"""Scalar expression library (SURVEY.md §2.8, ops E1-E17 + J9).

Every reference row-loop / ``Series.apply`` becomes a native Catalyst
column expression here — whole-stage-codegen-able, no Python in the hot
path. Each function returns a ``Column`` so callers compose them lazily.

Reference citations (files under /root/reference/):
- combine_date_time      <- clean_encounterids.py:248-258 (E5)
- coalesce_cascade       <- clean_encounterids.py:260-291 (E3, E4)
- age_years              <- dataset_curation.ipynb cell 21 (E6)
- duration_minutes       <- dataset_curation.ipynb cell 21 (E7)
- typed_value            <- dataset_curation.ipynb cell 51 (E10)
- decode_map             <- cells 30/36, parse_ICNARC_xml.py:66-75 (J9)
- seconds_of_day         <- cell 40 (E14)
- minutes_to_days/hours  <- clean_encounterids.py:200,209-211 (E12)
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

SECONDS_PER_YEAR = 365.25 * 24 * 3600  # the reference's own convention (cell 21)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def let(value: Column, body) -> Column:
    """Let-binding for expensive array/struct expressions:
    ``transform(array(value), v -> body(v))[1]`` evaluates ``value``
    exactly ONCE per row and hands the result to ``body`` as a lambda
    variable it may reference any number of times.

    Why it matters: higher-order array functions are interpreted
    (no whole-stage-codegen CSE), so an O(k²)-cost array expression
    referenced N times inside one projection is otherwise evaluated N
    times per row — and Catalyst rewrites (CollapseProject, predicate
    pushdown through aliases) can silently re-inline an aliased
    expression into several consumers. A lambda variable can never be
    re-inlined, making single evaluation a structural guarantee
    rather than an optimizer accident."""
    return F.element_at(F.transform(F.array(value), body), 1)


def ts_micros(c: Column | str) -> Column:
    """Microseconds since epoch, tolerant of TIMESTAMP_NTZ input.

    ``F.unix_micros`` rejects TIMESTAMP_NTZ (what parquet ``timestamp[us]``
    without a TZ reads as); casting first maps NTZ wall-clock to the same
    instant under the engine's pinned UTC session TZ, and is a Catalyst
    no-op when the input is already TIMESTAMP."""
    return F.unix_micros(_col(c).cast("timestamp"))


def combine_date_time(date_col: Column | str, time_col: Column | str) -> Column:
    """ICNARC stores separate date and time string columns; concatenate and
    parse (E5). NULL in either part yields NULL (concat_ws would silently
    drop the null part and mis-parse, so guard explicitly)."""
    d, t = _col(date_col), _col(time_col)
    joined = F.concat_ws(" ", d.cast("string"), t.cast("string"))
    return F.when(d.isNull() | t.isNull(), F.lit(None).cast("timestamp")).otherwise(
        F.to_timestamp(joined)
    )


def coalesce_cascade(*cols: Column | str) -> Column:
    """N-way cascading coalesce (E3 two-way, E4 three-way mortality).

    The reference implements this as a row loop that *crashes* when every
    source is null (SURVEY §2.8 E4 'reference bug'); SQL COALESCE correctly
    yields NULL, which is the engine default."""
    return F.coalesce(*[_col(c) for c in cols])


def age_years(event_ts: Column | str, birth_ts: Column | str) -> Column:
    """Age in fractional years, using the reference's 365.25-day year (E6)."""
    delta = F.unix_timestamp(_col(event_ts)) - F.unix_timestamp(_col(birth_ts))
    return delta / F.lit(SECONDS_PER_YEAR)


def duration_minutes(end_ts: Column | str, start_ts: Column | str) -> Column:
    """LOS-style duration in fractional minutes (E7/E15 family)."""
    return (F.unix_timestamp(_col(end_ts)) - F.unix_timestamp(_col(start_ts))) / 60.0


def minutes_to_days(c: Column | str) -> Column:
    return _col(c) / 1440.0


def minutes_to_hours(c: Column | str) -> Column:
    return _col(c) / 60.0


def seconds_of_day(ts: Column | str) -> Column:
    """Timestamp → seconds since midnight, the histogrammable form of the
    reference's ``x.time()`` (E14)."""
    t = _col(ts)
    return F.hour(t) * 3600 + F.minute(t) * 60 + F.second(t)


def typed_value(
    selector: Column | str,
    string_ids: Sequence,
    string_col: Column | str,
    number_col: Column | str,
) -> Column:
    """EAV typed-value selection (E10): the measurement's value lives in a
    type-dependent column; pick by attribute id. Returns string type (the
    reference's ``value`` column mixes both)."""
    return F.when(_col(selector).isin(list(string_ids)), _col(string_col)).otherwise(
        _col(number_col).cast("string")
    )


def decode_map(
    c: Column | str, mapping: Mapping, default: Column | str | None = None
) -> Column:
    """Literal-dict decode (J9): diagnosis codes, admission types, unit codes.

    Implemented as a chained CASE WHEN — constant-folded by Catalyst, no
    join, no Python. ``default=None`` keeps unmatched values NULL;
    pass ``F.col(...)`` to keep the original."""
    expr = None
    for k, v in mapping.items():
        cond = _col(c) == F.lit(k)
        expr = F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
    if expr is None:
        return F.lit(None)
    if default is None:
        return expr
    return expr.otherwise(_col(default) if isinstance(default, (Column, str)) else F.lit(default))


def decimal_sum(c: Column | str, precision: int = 28, scale: int = 4) -> Column:
    """Exact, order-independent SUM for float columns with fixed decimal
    input scale. Summing IEEE doubles is non-associative, so a distributed
    sum is nondeterministic in the last ulps; casting to decimal first makes
    the partial-aggregate tree exact and therefore reproducible across
    partitionings AND engines (our DuckDB oracle computes the identical
    value). Result cast back to double."""
    return F.sum(_col(c).cast(f"decimal({precision},{scale})")).cast("double")


# Quantizer step of ``quantize_exact``: a contribution is counted in
# units of 1e-12.
QUANT_GRID = 1e12


def quantize_exact(c: Column | str) -> Column:
    """1e-12 contribution quantizer → exact integer (decimal(38,0)), so a
    SUM over it is exact and order-independent (the GD trainers' gradient
    sums, the PCA power iteration). Pure binary double arithmetic; |c|
    must stay ≤ ~1e6 so the scaled value fits double-exact integer range
    (2^53)."""
    c = _col(c)
    return (
        F.signum(c) * F.floor(F.abs(c) * F.lit(QUANT_GRID) + F.lit(0.5))
    ).cast("decimal(38,0)")


def numeric_coerce(c: Column | str) -> Column:
    """Lossy string→double coercion (E11): NULL on unparseable, exactly
    pandas ``to_numeric(errors='coerce')`` (requires non-ANSI cast mode,
    which session.py pins)."""
    return _col(c).cast("double")


def parsed_long_array_lit(values: Sequence[int]) -> Column:
    """Typed ``array<long>`` literal via ONE parsed SQL expression.
    ``F.lit(list)`` round-trips every element through the py4j gateway
    as a separate CreateArray child (~10 s merely to CONSTRUCT a
    16k-element literal, measured); the parser takes the whole array in
    a single string and Catalyst constant-folds it to one Literal
    node. Shared by the Bloom prefilter and anything else folding a
    driver-side artifact into the plan."""
    return F.expr("array(" + ",".join(f"{int(v)}L" for v in values) + ")")


def parsed_nested_double_lit(nested: Sequence[Sequence[float]]) -> Column:
    """``array<array<double>>`` literal via one parsed SQL expression —
    the nested twin of ``parsed_long_array_lit`` (PQ codebooks, k-means
    centroid tables). ``repr()`` of a finite Python float round-trips
    exactly; non-finite values have no SQL literal form and are
    rejected loudly rather than parsed into garbage."""
    import math

    def fmt(x: float) -> str:
        fx = float(x)
        if not math.isfinite(fx):
            raise ValueError(f"non-finite value {x!r} has no SQL literal form")
        return repr(fx) + "D"

    inner = ",".join(
        "array(" + ",".join(fmt(x) for x in row) + ")" for row in nested
    )
    return F.expr(f"array({inner})")
