"""Profiling / cohort-summary aggregations (SURVEY.md §2.4 A3-A14,
§2.5 W1/W3, §2.6 O1-O3).

These are the reference's frequency tables, completeness profiles,
median/IQR summaries and histograms (``clean_encounterids.py:202-245``,
notebook cells 28-68), re-expressed as single-pass hash aggregations.
Scale notes per function; the common theme is: one shuffle per grouped
aggregate, map-side partials always on, top-k via TakeOrderedAndProject
(never a global sort), and percent-of-total via an unpartitioned window
over the *aggregated* (tiny) table — never over the raw fact table.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from icnarc_to_philips_linkage_spark.functions import expressions
from icnarc_to_philips_linkage_spark.operators.scale import (
    bounded_global_partition,
    bounded_global_window,
)


def frequency_table(
    df: DataFrame, keys: Sequence[str] | str, count_col: str | None = None
) -> DataFrame:
    """A3: group counts. ``count_col`` counts non-nulls of that column
    (the reference's ``agg({'encounterId':'count'})``); None counts rows."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    cnt = F.count(count_col) if count_col else F.count(F.lit(1))
    return df.groupBy(*keys).agg(cnt.alias("n"))


def percent_of_total(
    freq: DataFrame, count_col: str = "n", out_col: str = "pct"
) -> DataFrame:
    """W1: percent-of-total over a frequency table. The unpartitioned
    window runs on the post-aggregation table (|groups| rows, already tiny)
    — AQE collapses it to a single partition; the raw data is never
    re-scanned."""
    w = bounded_global_partition(count_col)
    return freq.withColumn(out_col, F.col(count_col) / F.sum(count_col).over(w))


def completeness(
    df: DataFrame,
    group_col: str,
    entity_col: str,
    approx: bool = False,
    rsd: float = 0.02,
) -> DataFrame:
    """A5: per-group distinct-entity counts (record completeness per
    Variable, cell 57). ``approx=True`` swaps in HLL
    (approx_count_distinct, relative std dev ``rsd``) — at 100 TB an
    exact COUNT(DISTINCT) needs a per-(group, entity) pre-shuffle; HLL
    is one pass and mergeable."""
    agg = (
        F.approx_count_distinct(entity_col, rsd)
        if approx
        else F.countDistinct(entity_col)
    )
    return df.groupBy(group_col).agg(agg.alias("n_entities"))


def group_stats(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    sample_std: bool = True,
    exact_mean_scale: int | None = None,
) -> DataFrame:
    """A7/A10: per-group mean/std. pandas ``std`` is sample (ddof=1) →
    stddev_samp; numpy ``np.std`` is population (ddof=0) → stddev_pop.
    Both computed in the same single aggregation.

    ``exact_mean_scale=k`` computes the mean as exact-decimal-sum ÷
    count: for data with ≤k decimal places the result is
    order-independent and bit-reproducible (a plain double AVG varies in
    the last ulps with partial-aggregation order)."""
    std = F.stddev_samp(value_col) if sample_std else F.stddev_pop(value_col)
    if exact_mean_scale is None:
        mean = F.avg(value_col)
    else:
        mean = (
            F.sum(F.col(value_col).cast(f"decimal(28,{exact_mean_scale})"))
            .cast("double")
            / F.count(value_col)
        )
    return df.groupBy(*keys).agg(
        F.count(value_col).alias("n"),
        mean.alias("mean"),
        std.alias("std"),
    )


def percentiles_exact(
    df: DataFrame, value_col: str, probs: Sequence[float] = (0.25, 0.5, 0.75)
) -> DataFrame:
    """A8: exact percentiles with linear interpolation — matches
    ``np.percentile`` and the DuckDB oracle's ``quantile_cont``. One row
    out, columns ``p{25,50,75,...}``. Exact percentile sorts per group;
    for 100 TB interactive profiling use ``percentiles_approx``."""
    arr = F.expr(
        f"percentile({value_col}, array({', '.join(f'{p}D' for p in probs)}))"
    )
    row = df.agg(arr.alias("_p"))
    return row.select(
        *[
            F.element_at("_p", i + 1).alias(f"p{int(p * 100)}")
            for i, p in enumerate(probs)
        ]
    )


def percentiles_approx(
    df: DataFrame,
    value_col: str,
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    accuracy: int = 10000,
) -> DataFrame:
    """A8 at scale: t-digest-style mergeable sketch, single pass, no sort."""
    row = df.agg(
        F.percentile_approx(value_col, list(probs), accuracy).alias("_p")
    )
    return row.select(
        *[
            F.element_at("_p", i + 1).alias(f"p{int(p * 100)}")
            for i, p in enumerate(probs)
        ]
    )


def _kll_quantile_cols(probs: Sequence[float]) -> list:
    """Quantile projections off a ``_sk`` sketch column, NULL for an
    empty sketch (zero rows / all-NULL input produces a valid empty
    sketch whose get_quantile THROWS — the n-guard restores the sibling
    percentile paths' NULL-on-empty contract)."""
    n = F.expr("kll_sketch_get_n_double(_sk)")
    return [
        F.when(
            n > 0, F.kll_sketch_get_quantile_double("_sk", F.lit(p))
        ).alias(f"p{int(p * 100)}")
        for p in probs
    ]


def kll_quantiles(
    df: DataFrame,
    value_col: str,
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    k: int = 200,
) -> DataFrame:
    """A8 via the DataSketches KLL sketch (Spark 4.1 builtins): one
    mergeable single-pass aggregate, ~1.65%/(k/200) rank error, output
    shape identical to ``percentiles_exact``.

    Why a third quantile path: the KLL sketch is a PORTABLE SERIALIZED
    OBJECT (binary column) with explicit merge — unlike
    ``percentile_approx``'s internal buffer it can be stored per
    partition/day/source and re-merged later, which is what a 100 TB
    rolling profile actually needs (see ``kll_quantiles_merged``)."""
    sk = df.agg(F.kll_sketch_agg_double(value_col, F.lit(k)).alias("_sk"))
    return sk.select(*_kll_quantile_cols(probs))


def kll_quantiles_merged(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    probs: Sequence[float] = (0.25, 0.5, 0.75),
    k: int = 200,
) -> DataFrame:
    """The mergeability proof: build one KLL sketch PER GROUP (the shape
    a per-partition/per-day profile job produces), then combine them
    with the ``kll_merge_agg_double`` MERGE AGGREGATE — same answer as
    sketching the whole column, within sketch error, without re-reading
    the data. Zero groups / all-NULL values yield NULL quantiles, not an
    error (the rolling-profile job must survive an empty day)."""
    per = df.groupBy(*keys).agg(
        F.kll_sketch_agg_double(value_col, F.lit(k)).alias("_sk")
    )
    merged = per.agg(F.expr("kll_merge_agg_double(_sk)").alias("_sk"))
    return merged.select(*_kll_quantile_cols(probs))


def hll_partitioned_distinct(
    df: DataFrame,
    part_col: str,
    entity_col: str,
) -> DataFrame:
    """Mergeable-sketch pattern (DataSketches HLL, Spark ≥3.5): build one
    sketch per partition-ish group, then UNION-merge sketches to answer
    the global distinct — the shape that lets 100 TB pipelines maintain
    per-day sketches and answer arbitrary date-range distincts without
    rescanning. Returns one row: merged estimate + per-group row count."""
    per_part = df.groupBy(part_col).agg(
        F.hll_sketch_agg(entity_col).alias("sketch")
    )
    return per_part.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
            "distinct_estimate"
        ),
        F.count(F.lit(1)).alias("n_partitions"),
    )


def hll_accuracy_report(
    df: DataFrame,
    part_col: str,
    entity_col: str,
    rel_bound: float = 0.05,
) -> DataFrame:
    """Hash-checkable twin of ``hll_partitioned_distinct``: per-group
    rows plus a union-merged ``__ALL__`` row, each carrying the EXACT
    distinct count and a ``within_bound`` boolean comparing the HLL
    estimate to it at ``rel_bound`` relative error. The DataSketches
    HLL sketch is deterministic (hash-based, order-independent), so the
    booleans are stable and a SQL oracle can emit the exact side — the
    same bound-check oracle pattern as a8c_kll_quantiles.

    Columns: (scope string, exact_distinct long, within_bound boolean).
    """
    # Exact side without any Expand: distinct (group, entity) pairs in
    # one keyed shuffle, then bounded-size aggregates over the pairs.
    # (Both countDistinct-per-group-via-rollup and conditional
    # multi-countDistinct plan an Expand that multiplies the input
    # before its shuffle — measured 2-5x slower at sf0.1.)
    pairs = (
        df.filter(F.col(entity_col).isNotNull())
        .select(F.col(part_col).alias("_p"), F.col(entity_col).alias("_e"))
        .distinct()
    )
    per_exact = pairs.groupBy("_p").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    # Sketch side: HLL updates are duplicate-insensitive — build per
    # group straight off the scan, no distinct pass needed; the global
    # sketch is the union-merge of the group sketches.
    per_sk = df.groupBy(F.col(part_col).alias("_p")).agg(
        F.hll_sketch_agg(entity_col).alias("_sk")
    )

    def _ok(est, exact):
        return (
            F.abs(est - exact) / F.greatest(exact, F.lit(1))
            <= F.lit(rel_bound)
        )

    groups = per_exact.join(per_sk, "_p").select(
        F.col("_p").cast("string").alias("scope"),
        "exact_distinct",
        _ok(F.hll_sketch_estimate("_sk"), F.col("exact_distinct")).alias(
            "within_bound"
        ),
    )
    global_exact = pairs.agg(
        F.count_distinct(F.col("_e")).alias("exact_distinct")
    )
    merged = per_sk.agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est")
    )
    all_row = global_exact.crossJoin(F.broadcast(merged)).select(
        F.lit("__ALL__").alias("scope"),
        "exact_distinct",
        _ok(F.col("_est"), F.col("exact_distinct")).alias("within_bound"),
    )
    return groups.unionByName(all_row)


def theta_set_cardinalities(
    df: DataFrame,
    flag_col: str,
    key_col: str,
    a: str,
    b: str,
    rel_bound: float = 0.05,
) -> DataFrame:
    """Distinct-set algebra via DataSketches Theta sketches — the sketch
    family whose point over HLL is INTERSECTION and DIFFERENCE, not just
    union: |A|, |B|, |A∪B|, |A∩B|, |A\\B| of the ``key_col`` sets where
    ``flag_col`` equals ``a`` / ``b``, each estimated from two sketches
    built in ONE pass over the data (conditional ``theta_sketch_agg``).

    At 100 TB the exact sides here are for verification only; the
    production read is sketch-only (store per-slice sketches, answer any
    set question later without rescanning). Output is hash-checkable:
    (scope, exact_distinct, within_bound) with deterministic booleans —
    theta sketches are hash-based and order-independent.

    Exact intersection/difference derive from inclusion-exclusion
    (exI = exA + exR - exU), so the whole exact side is ONE aggregate
    too.
    """
    key = F.col(key_col)
    flag = F.col(flag_col)
    # Exact side WITHOUT multi-distinct expansion: one keyed shuffle
    # builds per-key membership flags, then a 1-row sum derives every
    # cardinality (a triple conditional countDistinct would EXPAND the
    # input 3x before its shuffle — measured 4x slower at sf0.1).
    membership = (
        df.filter(flag.isin(a, b) & key.isNotNull())
        .groupBy(key.alias("_k"))
        .agg(
            F.max((flag == a).cast("int")).alias("_in_a"),
            F.max((flag == b).cast("int")).alias("_in_b"),
        )
    )
    exact = membership.agg(
        F.sum("_in_a").alias("_exa"),
        F.sum("_in_b").alias("_exb"),
        F.count(F.lit(1)).alias("_exu"),
    )
    # Sketch side: theta updates are duplicate-insensitive, so the two
    # sketches build in one scan-side aggregate — no distinct, no
    # expand, no shuffle beyond the 1-row merge.
    sketches = df.agg(
        F.theta_sketch_agg(F.when(flag == a, key)).alias("_ska"),
        F.theta_sketch_agg(F.when(flag == b, key)).alias("_skb"),
    )
    row = exact.crossJoin(F.broadcast(sketches))
    row = (
        row.withColumn("_exi", F.col("_exa") + F.col("_exb") - F.col("_exu"))
        .withColumn("_exd", F.col("_exa") - F.col("_exi"))
        .withColumn("_esta", F.theta_sketch_estimate("_ska"))
        .withColumn("_estb", F.theta_sketch_estimate("_skb"))
        .withColumn(
            "_estu", F.theta_sketch_estimate(F.theta_union("_ska", "_skb"))
        )
        .withColumn(
            "_esti",
            F.theta_sketch_estimate(F.theta_intersection("_ska", "_skb")),
        )
        .withColumn(
            "_estd",
            F.theta_sketch_estimate(F.theta_difference("_ska", "_skb")),
        )
    )

    def _ok(est: str, exact: str) -> Column:
        return (
            F.abs(F.col(est) - F.col(exact))
            / F.greatest(F.col(exact), F.lit(1))
            <= F.lit(rel_bound)
        )

    structs = F.array(
        F.struct(
            F.lit("a").alias("scope"),
            F.col("_exa").alias("exact_distinct"),
            _ok("_esta", "_exa").alias("within_bound"),
        ),
        F.struct(
            F.lit("b").alias("scope"),
            F.col("_exb").alias("exact_distinct"),
            _ok("_estb", "_exb").alias("within_bound"),
        ),
        F.struct(
            F.lit("union").alias("scope"),
            F.col("_exu").alias("exact_distinct"),
            _ok("_estu", "_exu").alias("within_bound"),
        ),
        F.struct(
            F.lit("intersection").alias("scope"),
            F.col("_exi").alias("exact_distinct"),
            _ok("_esti", "_exi").alias("within_bound"),
        ),
        F.struct(
            F.lit("difference").alias("scope"),
            F.col("_exd").alias("exact_distinct"),
            _ok("_estd", "_exd").alias("within_bound"),
        ),
    )
    return row.select(F.explode(structs).alias("s")).select(
        "s.scope", "s.exact_distinct", "s.within_bound"
    )


def conditional_rates(df: DataFrame, conds: dict[str, Column]) -> DataFrame:
    """A9: named conditional counts + rates in ONE pass over the data
    (``sum(gender=='Male')`` etc., clean_encounterids.py:214-245)."""
    aggs = [F.count(F.lit(1)).alias("n_total")]
    for name, cond in conds.items():
        aggs.append(F.count(F.when(cond, 1)).alias(f"n_{name}"))
    out = df.agg(*aggs)
    for name in conds:
        out = out.withColumn(f"rate_{name}", F.col(f"n_{name}") / F.col("n_total"))
    return out


def histogram(
    df: DataFrame,
    value_col: str,
    bins: int = 20,
    min_max: tuple[float, float] | None = None,
) -> DataFrame:
    """A14: equal-width histogram as a query. Two passes when min/max are
    unknown (a columnar scan each — parquet min/max statistics usually
    answer the first pass without reading data pages); the bin pass is a
    single hash aggregation on ≤``bins`` groups.

    Bin rule matches numpy: right-exclusive edges, last bin inclusive
    (x == max lands in bin ``bins-1``)."""
    if min_max is None:
        mn_mx = df.agg(
            F.min(value_col).alias("mn"), F.max(value_col).alias("mx")
        )
        src = df.crossJoin(F.broadcast(mn_mx))
    else:
        src = df.withColumn("mn", F.lit(min_max[0])).withColumn(
            "mx", F.lit(min_max[1])
        )
    bin_expr = F.least(
        F.floor(
            (F.col(value_col) - F.col("mn"))
            * float(bins)
            / (F.col("mx") - F.col("mn"))
        ).cast("int"),
        F.lit(bins - 1),
    )
    return (
        src.filter(F.col(value_col).isNotNull())
        .withColumn("bin", bin_expr)
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def winsorize_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    low_p: float = 0.05,
    high_p: float = 0.95,
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group outlier-band report for winsorization/capping:
    [p_low, p_high] bounds per group plus how many rows fall outside
    them — the decide-before-you-clamp step of feature cleaning (the
    grouped generalization of ``plausibility_band_filter``).

    DEFAULT is the mergeable ``percentile_approx`` sketch — exact
    ``percentile`` materializes every group's values in aggregation
    memory, which does not survive 100 TB groups (the
    ``equi_depth_histogram`` precedent); ``exact=True`` is for oracle
    parity and small data.

    Two passes: the grouped percentile aggregate (one row per group,
    broadcast back) and a conditional-count aggregate over the join.
    Counts use STRICT comparisons against the unrounded bounds, so
    engine-level ulp differences in percentile interpolation cannot
    flip them unless a data value sits inside that ulp gap (values at
    fixed decimal scale vs interpolated bounds make that vanishingly
    tight); sums are decimal-exact (order-independent across
    partitionings and engines).

    Returns (group, n_rows, n_below, n_above, lo_bound, hi_bound,
    value_sum) with bounds rounded to 6dp.
    """
    from icnarc_to_philips_linkage_spark.functions.expressions import (
        decimal_sum,
    )

    fn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else f", {accuracy}"
    per = df.groupBy(group_col).agg(
        F.expr(
            f"{fn}({value_col}, array({low_p}D, {high_p}D){acc})"
        ).alias("__b"),
        F.count(F.lit(1)).alias("n_rows"),
        decimal_sum(value_col, 18, 2).alias("value_sum"),
    )
    bounds = per.select(
        group_col,
        F.element_at("__b", 1).alias("__lo"),
        F.element_at("__b", 2).alias("__hi"),
    )
    counts = (
        df.join(F.broadcast(bounds), group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.when(F.col(value_col) < F.col("__lo"), 1)).alias(
                "n_below"
            ),
            F.count(F.when(F.col(value_col) > F.col("__hi"), 1)).alias(
                "n_above"
            ),
        )
    )
    return per.join(counts, group_col).select(
        group_col,
        "n_rows",
        "n_below",
        "n_above",
        F.round(F.element_at("__b", 1), 6).alias("lo_bound"),
        F.round(F.element_at("__b", 2), 6).alias("hi_bound"),
        "value_sum",
    )


def mutual_information(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Mutual information between two categorical columns — the
    information-theoretic association measure feature selection uses
    (how much knowing X tells you about Y): ``MI = Σ_xy p(xy) ·
    ln(p(xy) / (p(x)p(y)))``, natural log.

    One contingency aggregate (cardinality = |X|·|Y| cells) is the only
    data-sized shuffle; marginals and the total come from windows over
    the tiny cell table. NULL categories count as their own level
    (groupBy keeps NULL keys). Returns one row per observed cell:
    (x, y, n_xy, mi_contrib, mi_total) with 6dp rounding.
    """
    cells = df.groupBy(
        F.col(x_col).alias("x"), F.col(y_col).alias("y")
    ).agg(F.count(F.lit(1)).alias("n_xy"))
    w_all = bounded_global_partition("n_xy")
    out = (
        cells.withColumn("__n", F.sum("n_xy").over(w_all))
        .withColumn("__nx", F.sum("n_xy").over(Window.partitionBy("x")))
        .withColumn("__ny", F.sum("n_xy").over(Window.partitionBy("y")))
        .withColumn(
            "mi_contrib",
            (F.col("n_xy") / F.col("__n"))
            * F.log(
                (F.col("n_xy") / F.col("__n"))
                / (
                    (F.col("__nx") / F.col("__n"))
                    * (F.col("__ny") / F.col("__n"))
                )
            ),
        )
        .withColumn("mi_total", F.round(F.sum("mi_contrib").over(w_all), 6))
    )
    return out.select(
        "x",
        "y",
        "n_xy",
        F.round("mi_contrib", 6).alias("mi_contrib"),
        "mi_total",
    )


def plausibility_band_filter(
    df: DataFrame,
    value_col: str,
    low_p: float = 0.01,
    high_p: float = 0.99,
) -> DataFrame:
    """Percentile-band plausibility filter — the queryable form of the
    reference's eyeball-the-histogram step (cells 65-66: per-variable
    distributions checked for clinical plausibility). Keeps rows whose
    value lies within [p_low, p_high]. Two passes: a percentile
    aggregate (one row, broadcast) + a codegen'd filter."""
    bounds = df.agg(
        F.expr(
            f"percentile(`{value_col}`, array({low_p}D, {high_p}D))"
        ).alias("_b")
    ).select(
        F.element_at("_b", 1).alias("lo"), F.element_at("_b", 2).alias("hi")
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .filter(F.col(value_col).between(F.col("lo"), F.col("hi")))
        .drop("lo", "hi")
    )


def top_k(
    df: DataFrame, order_cols: Sequence[Column | str], k: int
) -> DataFrame:
    """O2/O3/W3: top-k. ``orderBy(...).limit(k)`` plans as
    TakeOrderedAndProject — per-partition heaps + driver merge, never a
    global sort — exactly what ``TOP 100 ... ORDER BY`` should be at
    scale. Callers must include a unique tie-break column for
    deterministic results."""
    return df.orderBy(*order_cols).limit(k)


def grouped_top_k_agg(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    k: int,
) -> DataFrame:
    """Per-group top-k (descending by ``order_cols``) as ONE hash
    aggregate — collect_list + array_sort + reverse + slice — instead of
    a window: no per-partition sort of the whole input, and map-side
    partial aggregation applies. Intended for small k with modest group
    sizes.

    The slice MUST be positive-indexed on the reversed (descending)
    array: ``slice(a, -k, k)`` returns an EMPTY array whenever the group
    has fewer than k rows (|start| beyond length), silently dropping
    small groups a ROW_NUMBER formulation keeps.

    Returns group_cols + order_cols, exploded back to rows."""
    top = df.groupBy(*group_cols).agg(
        F.slice(
            F.reverse(
                F.array_sort(F.collect_list(F.struct(*order_cols)))
            ),
            1,
            k,
        ).alias("__topk")
    )
    exploded = top.select(
        *group_cols, F.explode("__topk").alias("__t")
    )
    return exploded.select(
        *group_cols, *[F.col(f"__t.{c}").alias(c) for c in order_cols]
    )


def group_time_stats(
    df: DataFrame, keys: Sequence[str], ts_col: str
) -> DataFrame:
    """A6: per-group count / min(ts) / max(ts) (per-(stay, variable)
    recording stats, cell 59)."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(ts_col).alias(f"{ts_col}_min"),
        F.max(ts_col).alias(f"{ts_col}_max"),
    )


def equi_depth_histogram(
    df: DataFrame, value_col: str, bins: int = 10, exact: bool = False
) -> DataFrame:
    """Equi-depth (quantile-bin) histogram: ~equal row counts per bin,
    with each bin's count/min/max — the distribution profile that
    equal-width bins (A14) miss on skewed data.

    Scale design: the naive formulation is ``ntile(bins)`` over a global
    ORDER BY — a single-partition window sort that cannot scale. Here
    the ``bins-1`` interior boundaries come from ONE percentile
    aggregate, are broadcast as a 1-row array, and bin assignment is a
    map-side higher-order count of boundaries below the value — then a
    hash aggregate on ≤``bins`` groups. No global sort at any point.

    The DEFAULT boundary aggregate is the mergeable single-pass
    ``percentile_approx`` sketch — constant memory per partition, the
    only formulation that survives 100 TB. ``exact=True`` swaps in exact
    ``percentile``, which buffers every value in one aggregation buffer:
    reserve it for oracle-parity checks and small profiling runs, never
    production-scale data.

    NULL values are excluded (they belong to no bin, matching
    ``ntile``-over-non-null semantics).
    """
    probs = [i / bins for i in range(1, bins)]
    if exact:
        arr = F.expr(
            f"percentile({value_col}, array({', '.join(f'{p}D' for p in probs)}))"
        )
    else:
        arr = F.percentile_approx(value_col, probs, 10000)
    bounds = df.agg(arr.alias("__bounds"))
    return (
        df.filter(F.col(value_col).isNotNull())
        .crossJoin(F.broadcast(bounds))
        .withColumn(
            "bin",
            F.expr(f"size(filter(__bounds, b -> {value_col} > b))"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.min(value_col).alias("bin_min"),
            F.max(value_col).alias("bin_max"),
        )
    )


def standardize(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    out_col: str = "zscore",
    exact_mean_scale: int = 2,
) -> DataFrame:
    """Per-group z-score standardization (feature engineering): x →
    (x − group mean) / group population std, NULL for degenerate groups
    (std 0 or a single row).

    One grouped aggregate computes the moments (decimal-exact mean —
    order-independent — and population std), joined back broadcast-or-
    shuffled by group cardinality; the scoring itself is map-side. The
    z-score is rounded to 6dp so ranking/thresholding on it is engine-
    portable."""
    stats = group_stats(
        df, keys, value_col, sample_std=False,
        exact_mean_scale=exact_mean_scale,
    ).select(*keys, F.col("mean").alias("__mu"), F.col("std").alias("__sd"))
    return (
        df.join(stats, list(keys))
        .withColumn(
            out_col,
            F.when(
                F.col("__sd") > 0,
                F.round((F.col(value_col) - F.col("__mu")) / F.col("__sd"), 6),
            ),
        )
        .drop("__mu", "__sd")
    )


def mad_outlier_report(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
    exact: bool = False,
    rank_check_eps: float | None = None,
    approx_accuracy: int = 10000,
    exact_collapse: bool = True,
) -> DataFrame:
    """Robust outlier report per group via MAD (median absolute
    deviation): med = median(x), mad = median(|x − med|), outlier ⇔
    |x − med| > k·mad. The robust sibling of the rolling z-score — mean
    and stddev are themselves dragged by the outliers they're supposed
    to flag; the median/MAD pair has a 50% breakdown point, which is why
    plausibility screens on lab-value-like data use it.

    MAD is inherently multi-pass: median pass, deviation-median pass,
    threshold-count pass — the per-group medians broadcast back between
    passes (group-cardinality rows, never the data). Two modes:

    - default (``exact=False``): ``percentile_approx`` sketch medians —
      mergeable, no sort anywhere, three streaming passes over the
      pruned two-column scan. The 100 TB screening plan.
    - ``exact=True``: bit-reproducible medians for oracle parity —
      the input collapses to a per-(group, value) COUNT frame (one
      corpus scan + map-side combine; measurement-like columns
      compress heavily), then ALL THREE passes fuse into ONE
      aggregation: the sorted (value, count) array per group is
      collected once and med / mad / outlier counts are higher-order
      folds over it (med: one fold finds both interpolation
      neighbours; mad: re-sort the |v−med| transform, same fold;
      outliers: one weighted conditional sum). Two keyed shuffles
      total, zero persists, zero joins — fusing the former
      three-pass persist-and-rejoin plan (VERDICT r8 #8). Per-group
      state is the distinct-value array — the same bound Spark's own
      exact ``percentile`` buffer imposes. On a corpus whose values
      are near-unique the collapse cannot compress: pass
      ``exact_collapse=False`` for the ONE-shuffle raw variant
      (sorted primitive array + O(1) element_at interpolation — no
      folds, no struct sort), or use the sketch mode, which remains
      the 100 TB screening plan; exact mode exists for validation.

    ``rank_check_eps`` (used by the a19b registry twin) appends
    ``med_within_bound`` / ``mad_within_bound`` booleans verifying the
    (possibly sketch-produced) medians against their rank contract
    inside the SAME final aggregate — share of values ≤ med within
    eps of 0.5, likewise for deviations vs mad — so the check costs no
    extra pass. Comparisons are 6dp-rounded on BOTH sides of the
    outlier threshold so an engine ulp can't flip a boundary row.

    Output: (group, n, med, mad, n_outliers[, med_within_bound,
    mad_within_bound]).
    """
    base = df.select(
        F.col(group_col), F.col(value_col).cast("double").alias("__v")
    )
    if exact:
        if exact_collapse:
            return _mad_exact_fused(base, group_col, k, rank_check_eps)
        return _mad_exact_raw(base, group_col, k, rank_check_eps)
    acc = int(approx_accuracy)
    med = base.groupBy(group_col).agg(
        F.expr(f"percentile_approx(__v, 0.5, {acc})").alias("__med")
    )
    with_med = base.join(F.broadcast(med), group_col)
    mad = with_med.groupBy(group_col).agg(
        F.expr(
            f"percentile_approx(abs(__v - __med), 0.5, {acc})"
        ).alias("__mad")
    )
    w = F.lit(1)
    dev = F.round(F.abs(F.col("__v") - F.col("__med")), 6)
    thresh = F.round(F.lit(k) * F.col("__mad"), 6)
    aggs = [
        F.sum(w).cast("long").alias("n"),
        F.round(F.min("__med"), 6).alias("med"),
        F.round(F.min("__mad"), 6).alias("mad"),
        F.sum(F.when(dev > thresh, w).otherwise(0))
        .cast("long")
        .alias("n_outliers"),
    ]
    if rank_check_eps is not None:
        eps = F.lit(float(rank_check_eps))
        half = F.lit(0.5)
        aggs.append(
            (
                F.abs(
                    F.sum(F.when(F.col("__v") <= F.col("__med"), w)
                          .otherwise(0))
                    / F.sum(w)
                    - half
                )
                <= eps
            ).alias("med_within_bound")
        )
        aggs.append(
            (
                F.abs(
                    F.sum(
                        F.when(
                            F.abs(F.col("__v") - F.col("__med"))
                            <= F.col("__mad"),
                            w,
                        ).otherwise(0)
                    )
                    / F.sum(w)
                    - half
                )
                <= eps
            ).alias("mad_within_bound")
        )
    return (
        with_med.join(F.broadcast(mad), group_col)
        .groupBy(group_col)
        .agg(*aggs)
    )


def _weighted_interp_median(arr, n_nonnull):
    """Exact interpolated median over a SORTED (v, c) struct array —
    ``percentile(v, 0.5, c)``'s semantics as one higher-order fold:
    the interpolation neighbours are the values at zero-based
    positions (N−1) div 2 and N div 2 of the weight-expanded multiset
    (one cumulative pass finds both), combined 0.5·lo + 0.5·hi (the
    formula Spark's percentile uses at p=0.5; for odd N lo == hi and
    0.5x + 0.5x is exactly x in IEEE). NULL when N == 0."""
    plo = F.floor((n_nonnull - F.lit(1)) / F.lit(2)).cast("long")
    phi = F.floor(n_nonnull / F.lit(2)).cast("long")
    init = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(None).cast("double").alias("lo"),
        F.lit(None).cast("double").alias("hi"),
    )

    def step(a, x):
        cum = a["cum"] + x["c"]
        return F.struct(
            cum.alias("cum"),
            F.when(a["lo"].isNull() & (cum > plo), x["v"])
            .otherwise(a["lo"])
            .alias("lo"),
            F.when(a["hi"].isNull() & (cum > phi), x["v"])
            .otherwise(a["hi"])
            .alias("hi"),
        )

    return F.aggregate(
        arr, init, step, lambda a: 0.5 * a["lo"] + 0.5 * a["hi"]
    )


def _mad_exact_raw(
    base: DataFrame,
    group_col: str,
    k: float,
    rank_check_eps: float | None,
) -> DataFrame:
    """``mad_outlier_report(exact=True, exact_collapse=False)``: ONE
    aggregation collects each group's sorted primitive value array,
    then med and mad are O(1) ``element_at`` interpolations (no fold —
    the neighbours' positions are arithmetic on N) and the outlier /
    rank-check counts are filters over the deviation array. One keyed
    shuffle total. The right exact plan when values are near-unique
    (the collapse would not compress); per-group state is the value
    array itself — the same bound exact ``percentile`` imposes."""
    packed = base.groupBy(group_col).agg(
        F.sort_array(
            F.collect_list(F.col("__v"))
        ).alias("__arr"),
        F.count(F.lit(1)).cast("long").alias("__n_all"),
    )
    nv = F.size("__arr").cast("long")  # collect_list drops NULLs
    lo1 = (F.floor((nv - F.lit(1)) / F.lit(2)) + F.lit(1)).cast("int")
    hi1 = (F.floor(nv / F.lit(2)) + F.lit(1)).cast("int")

    def interp(arr):
        return F.when(
            nv > 0,
            0.5 * F.element_at(arr, lo1) + 0.5 * F.element_at(arr, hi1),
        )

    staged = (
        packed.withColumn("__med", interp(F.col("__arr")))
        .withColumn(
            "__darr",
            F.array_sort(F.expr("transform(__arr, x -> abs(x - __med))")),
        )
        .withColumn("__mad", interp(F.col("__darr")))
    )
    thresh = F.round(F.lit(k) * F.col("__mad"), 6)
    cols = [
        F.col(group_col),
        F.col("__n_all").alias("n"),
        F.round(F.col("__med"), 6).alias("med"),
        F.round(F.col("__mad"), 6).alias("mad"),
        F.size(
            F.filter(F.col("__darr"), lambda x: F.round(x, 6) > thresh)
        ).cast("long").alias("n_outliers"),
    ]
    if rank_check_eps is not None:
        eps = F.lit(float(rank_check_eps))
        nvd = nv.cast("double")
        cols.append(
            (
                F.abs(
                    F.size(
                        F.filter(
                            F.col("__arr"), lambda x: x <= F.col("__med")
                        )
                    )
                    / nvd
                    - F.lit(0.5)
                )
                <= eps
            ).alias("med_within_bound")
        )
        cols.append(
            (
                F.abs(
                    F.size(
                        F.filter(
                            F.col("__darr"), lambda x: x <= F.col("__mad")
                        )
                    )
                    / nvd
                    - F.lit(0.5)
                )
                <= eps
            ).alias("mad_within_bound")
        )
    return staged.select(*cols)


def _mad_exact_fused(
    base: DataFrame,
    group_col: str,
    k: float,
    rank_check_eps: float | None,
) -> DataFrame:
    """``mad_outlier_report(exact=True)``: the three former passes
    (median, deviation-median, threshold count) fused into ONE
    aggregation over the per-(group, value) count frame — collect the
    sorted (v, c) array once per group, then med / mad / outlier and
    rank-check counts are all folds over it. Two keyed shuffles, no
    persist, no joins. NULL values keep their place in ``n`` (they are
    rows) but take no part in the medians — ``percentile``'s contract.
    """
    src = base.groupBy(group_col, "__v").agg(
        F.count(F.lit(1)).alias("__c")
    )
    packed = src.groupBy(group_col).agg(
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("__v").isNotNull(),
                    F.struct(
                        F.col("__v").alias("v"), F.col("__c").alias("c")
                    ),
                )
            )
        ).alias("__arr"),
        F.sum("__c").cast("long").alias("__n_all"),
        F.sum(F.when(F.col("__v").isNotNull(), F.col("__c")).otherwise(0))
        .cast("long")
        .alias("__nv"),
    )
    staged = (
        packed.withColumn(
            "__med", _weighted_interp_median(F.col("__arr"), F.col("__nv"))
        )
        .withColumn(
            "__darr",
            F.array_sort(
                F.expr(
                    "transform(__arr, x -> "
                    "struct(abs(x.v - __med) AS v, x.c AS c))"
                )
            ),
        )
        .withColumn(
            "__mad", _weighted_interp_median(F.col("__darr"), F.col("__nv"))
        )
    )
    thresh = F.round(F.lit(k) * F.col("__mad"), 6)
    zero = F.lit(0).cast("long")

    def wsum(arr, pred):
        return F.aggregate(
            arr,
            zero,
            lambda a, x: a + F.when(pred(x), x["c"].cast("long")).otherwise(zero),
        )

    cols = [
        F.col(group_col),
        F.col("__n_all").alias("n"),
        F.round(F.col("__med"), 6).alias("med"),
        F.round(F.col("__mad"), 6).alias("mad"),
        wsum(
            F.col("__darr"), lambda x: F.round(x["v"], 6) > thresh
        ).alias("n_outliers"),
    ]
    if rank_check_eps is not None:
        eps = F.lit(float(rank_check_eps))
        nv = F.col("__nv").cast("double")
        cols.append(
            (
                F.abs(
                    wsum(F.col("__arr"), lambda x: x["v"] <= F.col("__med"))
                    / nv
                    - F.lit(0.5)
                )
                <= eps
            ).alias("med_within_bound")
        )
        cols.append(
            (
                F.abs(
                    wsum(F.col("__darr"), lambda x: x["v"] <= F.col("__mad"))
                    / nv
                    - F.lit(0.5)
                )
                <= eps
            ).alias("mad_within_bound")
        )
    return staged.select(*cols)


def group_linreg(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    scale: int = 2,
) -> DataFrame:
    """Per-group ordinary-least-squares line y = slope·x + intercept
    plus r², from DECIMAL-EXACT moment sums — one aggregation pass.

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²); intercept/r² from the
    same five sums. The sums are accumulated as decimals (exact, so
    partial-aggregation order can't perturb them — the same trick as
    feat_standardize's decimal-exact mean), converted to double once,
    and the closed-form arithmetic on identical doubles is identical in
    every engine: 6dp rounding is then safe even though covariances at
    this magnitude would flicker if summed as floats. ``scale`` is the
    input's decimal scale (2 covers currency-like columns; inputs must
    be exactly representable at it).

    Degenerate groups (var(x) = 0) emit NULL slope/intercept/r².
    """
    d = f"decimal(38, {scale * 2})"
    x = F.col(x_col).cast(f"decimal(18, {scale})")
    y = F.col(y_col).cast(f"decimal(18, {scale})")
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x * y).cast(d)).cast("double").alias("sxy"),
        F.sum((x * x).cast(d)).cast("double").alias("sxx"),
        F.sum((y * y).cast(d)).cast("double").alias("syy"),
    )
    vx = agg["n"] * agg["sxx"] - agg["sx"] * agg["sx"]
    vy = agg["n"] * agg["syy"] - agg["sy"] * agg["sy"]
    cov = agg["n"] * agg["sxy"] - agg["sx"] * agg["sy"]
    slope = F.when(vx > 0, cov / vx)
    intercept = F.when(vx > 0, (agg["sy"] - (cov / vx) * agg["sx"]) / agg["n"])
    r2 = F.when((vx > 0) & (vy > 0), (cov * cov) / (vx * vy))
    return agg.select(
        group_col,
        agg["n"].cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def key_skew_report(
    df: DataFrame, key_col: str, top_k: int = 10
) -> DataFrame:
    """Join/aggregation-key skew diagnostic: the top-k heaviest keys
    with their row share, plus the global skew factor (max key rows /
    mean key rows) — the measurement that decides between a plain
    shuffle join, AQE skew-split, and explicit salting
    (scale.salted_join). Run it BEFORE picking a strategy; a skew
    factor near 1 means salting would only add overhead.

    One hash agg to key grain; the global stats are a second bounded
    agg over key counts, broadcast back. Output: (key, n_rows,
    pct_of_total, rank, skew_factor) — skew_factor repeated per row so
    the report is one self-contained table."""
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_rows"))
    stats = counts.agg(
        F.sum("n_rows").alias("__total"),
        F.max("n_rows").alias("__max"),
        F.avg("n_rows").alias("__mean"),
    )
    # top-k via TakeOrderedAndProject, THEN rank the k survivors — a
    # global row_number window over the full key-count table would
    # single-task-sort exactly the high-cardinality keys this
    # diagnostic targets
    w = bounded_global_window(
        "n_rows", F.desc("n_rows"), F.asc(key_col)
    )
    top = (
        counts.orderBy(F.desc("n_rows"), F.asc(key_col))
        .limit(top_k)
        .withColumn("rank", F.row_number().over(w))
    )
    return top.crossJoin(F.broadcast(stats)).select(
        key_col,
        "n_rows",
        F.round(F.col("n_rows") / F.col("__total"), 6).alias("pct_of_total"),
        "rank",
        F.round(F.col("__max") / F.col("__mean"), 6).alias("skew_factor"),
    )


def column_profile(
    df: DataFrame, columns: Sequence[str]
) -> DataFrame:
    """Whole-table column profiling — per column: row/null counts, null
    fraction, exact distinct count, and the modal value with its count
    (deterministic tiebreak: highest count, then highest value string).
    The first thing run against an unfamiliar 100 TB table.

    Shape: ONE melt (stack to (column, value-as-string) — a map-side
    Expand by |columns|, no per-column passes) feeding a (column,
    value) count agg, then a column-grain reduce. Deliberately avoids
    multi-column COUNT(DISTINCT) in a single agg, which plans the
    Expand AFTER the shuffle (the SCALE.md no-Expand lesson); here the
    fan-out happens before the first aggregation's map-side combine.
    """
    pairs = ", ".join(f"'{c}', cast(`{c}` as string)" for c in columns)
    melted = df.select(
        F.expr(f"stack({len(columns)}, {pairs}) as (col, val)")
    )
    per_val = melted.groupBy("col", "val").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        per_val.groupBy("col")
        .agg(
            F.sum("n").alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col("val").isNull(), F.col("n"))), F.lit(0)
            ).alias("n_nulls"),
            F.count(F.when(F.col("val").isNotNull(), F.lit(1))).alias(
                "n_distinct"
            ),
            F.max(
                F.when(
                    F.col("val").isNotNull(), F.struct(F.col("n"), F.col("val"))
                )
            ).alias("__top"),
        )
        .select(
            "col",
            "n_rows",
            "n_nulls",
            F.round(F.col("n_nulls") / F.col("n_rows"), 6).alias("null_frac"),
            "n_distinct",
            F.col("__top.val").alias("top_value"),
            F.col("__top.n").alias("top_n"),
        )
    )


def _cms_buckets(key: Column, depth: int, width: int, salt: str) -> Column:
    """All ``depth`` row-buckets for a key from ONE md5: the 32-hex
    digest of '{salt}:{key}' is sliced into consecutive 2-hex pairs,
    pair d giving row d's bucket. One hash per row instead of depth —
    the usual CMS implementation trick (the slices of a single strong
    hash serve as the pairwise-independent family). width must divide
    256 so a hex pair is uniform over the bucket space; depth <= 16
    pairs fit in the digest."""
    if not (0 < width <= 256 and 256 % width == 0):
        raise ValueError(f"width must divide 256, got {width}")
    if depth > 16:
        raise ValueError(f"depth must be <= 16, got {depth}")
    h = F.md5(F.concat(F.lit(f"{salt}:"), key))
    return F.array(
        *[
            (
                F.conv(F.substring(h, 2 * d + 1, 2), 16, 10).cast("int")
                % width
            )
            for d in range(depth)
        ]
    )


def countmin_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch as pure DataFrame algebra — a depth×width grid
    of counters where row d increments cell (d, h_d(key)). The sketch
    is MERGEABLE by construction (cell-wise sum), the build is one
    aggregation whose map-side combine collapses each partition to at
    most depth×width rows, and the result is parameter-bounded (1024
    cells by default) regardless of corpus size — the heavy-hitter
    twin of the HLL distinct and KLL quantile sketches. Hashing is one
    md5 per input row (digest slices are the row hashes), so the
    sketch is deterministic and the DuckDB oracle reproduces it
    exactly. Output: (d, bucket, n).

    ``weight_col`` builds the sketch from PRE-AGGREGATED (key, count)
    rows — cell (d, h_d(k)) accumulates Σ weight instead of the row
    count, so a sketch built from a key-grain frame is cell-identical
    to one built from the raw rows (r12 optimization: callers that
    already hold exact per-key counts skip a second corpus pass)."""
    w = F.lit(1) if weight_col is None else F.col(weight_col)
    keyed = df.select(
        F.col(key_col).cast("string").alias("__k"), w.alias("__w")
    ).filter(F.col("__k").isNotNull())
    return (
        keyed.select(
            F.col("__w"),
            F.posexplode(
                _cms_buckets(F.col("__k"), depth, width, salt)
            ).alias("d", "bucket"),
        )
        .groupBy("d", "bucket")
        .agg(F.sum("__w").cast("long").alias("n"))
    )


def countmin_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cms",
) -> DataFrame:
    """Point estimates from a ``countmin_sketch``: est(key) = min over
    rows d of cell (d, h_d(key)) — always >= the true count; the
    overcount is bounded by the other keys colliding into the same
    cells. The sketch side is parameter-bounded, so the join
    broadcasts; keys never shuffle. Output: keys + (cms_est long)."""
    probes = keys.select(
        F.col(key_col),
        F.posexplode(
            _cms_buckets(
                F.col(key_col).cast("string"), depth, width, salt
            )
        ).alias("d", "bucket"),
    )
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("n", F.lit(0))).alias("cms_est"))
    )


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str, round_dp: int = 6
) -> DataFrame:
    """Pearson chi-square contingency analysis of two categoricals: one
    corpus aggregation to the |A|×|B| cell table, then marginals,
    expected counts, and per-cell contributions via windows OVER THE
    CELL TABLE (never the corpus). The cell table is the FULL |A|×|B|
    grid — absent combinations enter as observed=0 (their contribution
    is the full expected count, not zero; dropping them biases chi2 low
    exactly when the variables are most dependent), built by cross-
    joining the two distinct level sets (dim-sized) against the
    observed counts. Output per cell: observed, expected, contrib =
    (obs-exp)²/exp, plus the shared chi2/dof (coarser-rounded: the
    total re-sums per-cell doubles, so it gets 4dp where the cells get
    ``round_dp``). NULL categories are excluded (they form no
    hypothesis cell)."""
    counted = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    grid = (
        counted.select(col_a)
        .distinct()
        .crossJoin(F.broadcast(counted.select(col_b).distinct()))
    )
    obs = grid.join(counted, [col_a, col_b], "left").select(
        col_a, col_b, F.coalesce("__n", F.lit(0)).alias("observed")
    )
    wa = Window.partitionBy(col_a)
    wb = Window.partitionBy(col_b)
    wall = bounded_global_partition("observed")
    rtot = F.sum("observed").over(wa)
    ctot = F.sum("observed").over(wb)
    n = F.sum("observed").over(wall)
    exp = rtot * ctot / n
    contrib = (F.col("observed") - exp) * (F.col("observed") - exp) / exp
    cells = obs.select(
        col_a,
        col_b,
        "observed",
        F.round(exp, round_dp).alias("expected"),
        F.round(contrib, round_dp).alias("contrib"),
    )
    n_a = F.size(F.collect_set(col_a).over(wall))
    n_b = F.size(F.collect_set(col_b).over(wall))
    return cells.select(
        "*",
        F.round(F.sum("contrib").over(wall), 4).alias("chi2"),
        ((n_a - 1) * (n_b - 1)).cast("int").alias("dof"),
    )


def gini_concentration(
    df: DataFrame,
    key_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Gini coefficient of the per-key value distribution — the
    concentration/inequality screen (is 1% of users/sources/domains
    contributing 90% of the volume?). Per-key totals accumulate in
    exact decimal; the ascending total order comes from the
    distributed ``global_rank`` (range exchange, never a single
    sorting task); and with exact rank·total products the classic
    formula G = 2·Σ rᵢxᵢ / (n·Σx) − (n+1)/n needs only one final
    double division per term — engine-identical before the round.
    Precondition: per-key totals must be NONNEGATIVE (the Gini
    coefficient is undefined over mixed-sign wealth; filter or shift
    first). Output: one row (n_keys, total_value, gini)."""
    from icnarc_to_philips_linkage_spark.operators.scale import global_rank

    totals = df.groupBy(key_col).agg(
        F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__x")
    )
    ranked = global_rank(
        totals, ["__x", key_col], total_col="__n"
    )
    return ranked.agg(
        F.max("__n").alias("n_keys"),
        F.sum("__x").cast("double").alias("total_value"),
        F.round(
            F.lit(2.0)
            * F.sum(F.col("rank") * F.col("__x")).cast("double")
            / (
                F.max("__n")
                * F.sum("__x").cast("double")
            )
            - (F.max("__n") + 1.0) / F.max("__n"),
            round_dp,
        ).alias("gini"),
    )


def percentile_disc_counting(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact DISCRETE percentiles (smallest value whose cume_dist >= p,
    the SQL PERCENTILE_DISC definition) by COUNTING SORT: aggregate to
    per-(group, value) counts, cumulative-sum over the value grain,
    then pick each p's threshold row with one min_by. The window runs
    over the count table — |group|×|distinct values| rows — never the
    corpus, so a skewed group costs nothing extra; the per-group window
    sort a naive rank formulation needs (one giant partition per hot
    group at 100 TB) never happens. Exact-integer thresholds make the
    result engine-identical with no rounding.
    Output: (group, p, value)."""
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(group_col)
    cum = counts.select(
        group_col,
        value_col,
        F.sum("__n").over(w).alias("__cum"),
        F.sum("__n").over(tot).alias("__tot"),
    )
    out = None
    for p in ps:
        # smallest value with cum >= ceil(p * tot): exact integer
        # comparison, one min_by per group
        need = F.ceil(F.lit(p) * F.col("__tot"))
        part = (
            cum.filter(F.col("__cum") >= need)
            .groupBy(group_col)
            .agg(F.min(value_col).alias("value"))
            .select(group_col, F.lit(p).alias("p"), "value")
        )
        out = part if out is None else out.unionByName(part)
    return out


def entropy_by_group(
    df: DataFrame,
    group_col: str,
    cat_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Shannon entropy (bits) of a categorical distribution per group —
    the diversity screen (a source whose event/type/language mix
    collapses to one category shows up as H→0). One corpus aggregation
    to (group, category) counts; the entropy sum runs over the
    category grain of that table. p = n/total is an exact integer
    ratio; only the final Σ p·log2(p) is floating, rounded to
    ``round_dp``. Output: (group, n_rows, n_categories, entropy_bits)."""
    counts = (
        df.filter(F.col(cat_col).isNotNull())
        .groupBy(group_col, cat_col)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    tot = Window.partitionBy(group_col)
    p = F.col("__n") / F.sum("__n").over(tot)
    terms = counts.select(
        group_col,
        F.col("__n"),
        (-p * F.log2(p)).alias("__h"),
    )
    return terms.groupBy(group_col).agg(
        F.sum("__n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_categories"),
        F.round(F.sum("__h"), round_dp).alias("entropy_bits"),
    )


def grouped_ols(
    df: DataFrame,
    group_col: str,
    x_col: Column,
    y_col: Column,
    round_dp: int = 6,
) -> DataFrame:
    """Per-group simple linear regression (OLS of y on x) from EXACT
    integer/decimal power sums — the closed-form regr_slope /
    regr_intercept / regr_r2 family, but engine-exact: callers pass
    ``x_col`` / ``y_col`` already lifted to exact integer units (e.g.
    cents), the five cross sums accumulate in decimal(38,0)
    (order-independent, identical in any engine), and only the final
    slope/intercept/r² algebra runs in doubles with one expression
    tree (the a23_grouped_moments recipe, extended to two variables).

    ONE corpus aggregation — the mean is never a second pass — and the
    output is group-grain. At 100 TB this is a single map-combined
    shuffle on the group key; nothing else moves.

    Output: ``(group, n, slope, intercept, r2)``; groups with zero x
    variance return NULL slope/intercept/r2 (vertical fit), matching
    SQL's regr_* NULL contract.
    """
    x = x_col.cast("decimal(38,0)")
    y = y_col.cast("decimal(38,0)")
    agg = df.filter(x_col.isNotNull() & y_col.isNotNull()).groupBy(
        group_col
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(38,0)")).cast("double").alias("sxx"),
        F.sum((x * y).cast("decimal(38,0)")).cast("double").alias("sxy"),
        F.sum((y * y).cast("decimal(38,0)")).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = cov / vx
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = (cov * cov) / (vx * vy)
    nz = vx > 0
    return agg.select(
        group_col,
        "n",
        F.round(F.when(nz, slope), round_dp).alias("slope"),
        F.round(F.when(nz, intercept), round_dp).alias("intercept"),
        F.round(F.when(nz & (vy > 0), r2), round_dp).alias("r2"),
    )


def spearman_corr(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Per-group Spearman rank correlation with average-tie ranks,
    engine-exact end to end. Ranks are derived on the DISTINCT-VALUE
    grain, not the corpus: each variable's (group, value, count)
    marginal comes off the joint cell grid, a running count over that
    (much smaller) table gives the min-rank, and ``2·avg_rank = 2·cum
    − cnt + 1`` keeps the tie-averaged rank an exact INTEGER (doubling
    clears the half — Pearson is affine-invariant so ρ is unchanged).
    The doubled ranks join back on (group, value) onto the CELL GRID
    and feed the same exact decimal(38,0) power-sum machinery as
    ``grouped_ols``, weighted by the cell counts; only the final ρ is
    a double (identical expression tree in the DuckDB oracle).

    Scale shape: ONE corpus shuffle — the corpus collapses to the
    JOINT (group, x, y) cell grid in a single aggregation (the
    ``kendall_tau_b`` contract: the grid is bounded by the two value
    grids' product and never exceeds the corpus), each variable's
    rank map derives from the grid's own marginals (grid-sized
    aggregations, never a second corpus pass), the join-backs are
    GRID-sized, and the power sums ride the grid as count-weighted
    exact decimals (Σ_rows rx·ry = Σ_cells c·rx·ry — identical
    integers, so the doubles below are bit-identical to the row-grain
    form this replaces; r12 optimization, guide §2.3/§2.4: was two
    extra corpus scans + two corpus-wide broadcast join-backs). The
    rank windows run over the marginal grain partitioned by group —
    never a corpus-wide sorted window.

    Output: ``(group, n, rho)``; NULL rho when either variable is
    constant within the group.
    """
    filtered = df.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    )
    # The joint cell grid feeds THREE consumers (two marginal rank
    # maps + the final count-weighted power sums). Persist it so the
    # corpus aggregates exactly once; everything downstream is
    # grid-sized. NO explicit width: r12 pinned this exchange to the
    # core count and the rank-map broadcast joins then paid
    # per-task broadcast deserialization on every grid task — 4×
    # slower at 32 cores than at 8 (VERDICT r12 #1). AQE coalesces
    # the grid shuffle to its byte size; the downstream work is
    # grid-bounded, not corpus-bounded, so narrow is correct.
    from pyspark import StorageLevel

    cells = (
        filtered.groupBy(group_col, x_col, y_col)
        .agg(F.count(F.lit(1)).alias("__cc"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def rank2(col: str, alias: str) -> DataFrame:
        counts = cells.groupBy(group_col, col).agg(
            F.sum("__cc").alias("__c")
        )
        w = (
            Window.partitionBy(group_col)
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return counts.select(
            group_col,
            col,
            (2 * F.sum("__c").over(w) - F.col("__c") + 1).alias(alias),
        )

    ranked = cells.join(rank2(x_col, "__rx"), [group_col, x_col]).join(
        rank2(y_col, "__ry"), [group_col, y_col]
    )
    c = F.col("__cc").cast("decimal(38,0)")
    rx = F.col("__rx").cast("decimal(38,0)")
    ry = F.col("__ry").cast("decimal(38,0)")
    agg = ranked.groupBy(group_col).agg(
        F.sum(c).cast("long").alias("n"),
        F.sum((c * rx).cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum((c * ry).cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum((c * rx * rx).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum((c * rx * ry).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum((c * ry * ry).cast("decimal(38,0)"))
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n").cast("double")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return agg.select(
        group_col,
        "n",
        F.round(
            F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)), round_dp
        ).alias("rho"),
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: Column,
    group_a,
    group_b,
    round_dp: int = 6,
) -> DataFrame:
    """Welch's unequal-variance t-test between two named groups — the
    A/B comparison that doesn't assume pooled variance. Callers pass
    ``value_col`` in exact integer units (cents); per-group n/Σ/Σ² are
    exact decimal(38,0) sums from ONE corpus aggregation, pivoted to a
    single row by conditional aggregation (no join), and the t
    statistic plus Welch–Satterthwaite degrees of freedom run in
    doubles with identical expression trees on both engines.

    Output: one row ``(n_a, n_b, mean_a, mean_b, t_stat, df_welch)``;
    NULL t/df when either side has fewer than 2 rows or both sample
    variances are zero.
    """
    v = value_col.cast("decimal(38,0)")
    tagged = df.filter(
        value_col.isNotNull() & F.col(group_col).isin([group_a, group_b])
    ).select(
        (F.col(group_col) == group_a).alias("__is_a"),
        v.alias("__v"),
        (v * v).cast("decimal(38,0)").alias("__v2"),
    )

    agg = tagged.agg(
        F.count(F.when(F.col("__is_a"), F.lit(1))).alias("n_a"),
        F.count(F.when(~F.col("__is_a"), F.lit(1))).alias("n_b"),
        F.sum(F.when(F.col("__is_a"), F.col("__v"))).cast("double").alias("sa"),
        F.sum(F.when(~F.col("__is_a"), F.col("__v"))).cast("double").alias("sb"),
        F.sum(F.when(F.col("__is_a"), F.col("__v2"))).cast("double").alias("saa"),
        F.sum(F.when(~F.col("__is_a"), F.col("__v2"))).cast("double").alias("sbb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("sa") / na
    mb = F.col("sb") / nb
    va = (F.col("saa") - F.col("sa") * F.col("sa") / na) / (na - 1)
    vb = (F.col("sbb") - F.col("sb") * F.col("sb") / nb) / (nb - 1)
    sea = va / na
    seb = vb / nb
    t = (ma - mb) / F.sqrt(sea + seb)
    dfw = (sea + seb) * (sea + seb) / (
        sea * sea / (na - 1) + seb * seb / (nb - 1)
    )
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    return agg.select(
        "n_a",
        "n_b",
        F.round(ma, round_dp).alias("mean_a"),
        F.round(mb, round_dp).alias("mean_b"),
        F.round(F.when(ok & ((sea + seb) > 0), t), round_dp).alias("t_stat"),
        F.round(F.when(ok & ((sea + seb) > 0), dfw), round_dp).alias(
            "df_welch"
        ),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: Column,
    round_dp: int = 6,
) -> DataFrame:
    """One-way ANOVA F statistic across ALL groups — the k-sample
    generalization of ``welch_ttest`` (classic equal-variance form).
    ``value_col`` arrives in exact integer units; per-group (n, Σv,
    Σv²) are exact decimal(38,0) sums from ONE corpus aggregation.

    The group-level reduction Σ_g s_g²/n_g is the only order-sensitive
    float sum, so it runs as a SEQUENTIAL fold over the
    group-sorted array (the Kaplan–Meier determinism recipe: only
    exactly-rounded IEEE ops in a fixed order → bit-identical in
    DuckDB's list_reduce). The array is |groups| entries — bounded by
    the group-key cardinality, a plan literal in practice.

    Output: one row ``(k, n, f_stat)``; NULL F when k < 2, n ≤ k, or
    SSW is zero.
    """
    v = value_col.cast("decimal(38,0)")
    per_group = (
        df.filter(value_col.isNotNull() & F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(v).alias("__s"),
            F.sum((v * v).cast("decimal(38,0)")).alias("__ss"),
        )
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(group_col).cast("string").alias("g"),
                F.col("__n").cast("double").alias("n"),
                F.col("__s").cast("double").alias("s"),
                F.col("__ss").cast("double").alias("ss"),
            )
        )
    )
    agg = per_group.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("__n").alias("n"),
        F.sum("__s").cast("double").alias("__stot"),
        arr.alias("__arr"),
    )
    # sequential folds over the group-sorted array: Σ s_g²/n_g and Σ ss_g
    sb = F.aggregate(
        F.expr("transform(__arr, x -> x.s * x.s / x.n)"),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    st = F.aggregate(
        F.expr("transform(__arr, x -> x.ss)"),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    n = F.col("n").cast("double")
    k = F.col("k").cast("double")
    ssb = sb - F.col("__stot") * F.col("__stot") / n
    ssw = st - sb
    f_stat = (ssb / (k - 1)) / (ssw / (n - k))
    ok = (F.col("k") >= 2) & (n > k) & (ssw > 0)
    return agg.select(
        "k",
        "n",
        F.round(F.when(ok, f_stat), round_dp).alias("f_stat"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_dp: int = 6,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) between two named groups
    with tie-averaged ranks AND the tie-corrected normal
    approximation — the nonparametric sibling of ``welch_ttest``.

    Everything exact until the final z: combined-sample ranks come
    from the DISTINCT-VALUE grain (the ``spearman_corr`` doubling
    trick keeps tie-averaged ranks integral), the rank-sum and the
    tie term Σ(t³−t) accumulate as exact decimals, and only
    z = (U − n_a·n_b/2) / √var runs in doubles with one expression
    tree. Continuity correction deliberately omitted (both engines
    would need the same branch; documented choice).

    Scale shape: one corpus aggregation to the value grain, then the
    running count rides ``scale.global_prefix_sums`` (range exchange +
    per-partition sums + literal offsets) — NOT an unpartitioned
    ordered window, which on a near-continuous value column would pull
    the corpus-sized distinct grain through ONE window task (the
    ``ks_two_sample_exact`` discipline).

    Output: one row ``(n_a, n_b, u_a, z)``; NULL z when either group
    is empty or the variance is zero (all values tied).
    """
    from icnarc_to_philips_linkage_spark.operators.scale import (
        global_prefix_sums,
    )

    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    ).select(
        (F.col(group_col) == group_a).alias("__is_a"), F.col(value_col)
    )
    counts = base.groupBy(value_col).agg(
        F.count(F.lit(1)).alias("__c"),
        F.count(F.when(F.col("__is_a"), F.lit(1))).alias("__ca"),
    )
    staged, _ = global_prefix_sums(counts, [value_col], ["__c"])
    staged = staged.select(
        "__c",
        "__ca",
        (2 * F.col("cum___c") - F.col("__c") + 1).alias("__r2"),
    )
    c = F.col("__c").cast("decimal(38,0)")
    agg = staged.agg(
        F.sum("__ca").alias("n_ab"),
        F.sum(F.col("__c") - F.col("__ca")).alias("n_bb"),
        F.sum(
            (F.col("__ca").cast("decimal(38,0)")
             * F.col("__r2").cast("decimal(38,0)")).cast("decimal(38,0)")
        ).cast("double").alias("__r2a"),
        F.sum((c * c * c - c).cast("decimal(38,0)"))
        .cast("double")
        .alias("__ties"),
    )
    na = F.col("n_ab").cast("double")
    nb = F.col("n_bb").cast("double")
    n = na + nb
    u2 = F.col("__r2a") - na * (na + 1)  # 2·U_A
    mu2 = na * nb  # 2·E[U]
    var = (na * nb / 12.0) * (
        (n + 1) - F.col("__ties") / (n * (n - 1))
    )
    z = (u2 - mu2) / (2.0 * F.sqrt(var))
    ok = (F.col("n_ab") > 0) & (F.col("n_bb") > 0) & (var > 0)
    return agg.select(
        F.col("n_ab").alias("n_a"),
        F.col("n_bb").alias("n_b"),
        (u2 / 2.0).alias("u_a"),
        F.round(F.when(ok, z), round_dp).alias("z"),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Kruskal–Wallis H across ALL groups — the k-sample extension of
    ``mann_whitney_u`` (nonparametric one-way ANOVA), with the
    standard tie correction H' = H / (1 − Σ(t³−t)/(n³−n)).

    Exactness layout: (group, value) counts in one corpus
    aggregation; the value grain derives doubled tie-averaged ranks
    (integral) via ``scale.global_prefix_sums`` (range exchange, no
    SinglePartition window — on a near-continuous column the distinct
    grain is corpus-sized); per-group doubled rank sums R2_g and the
    tie term are exact decimals; the only float reduction,
    Σ_g (R2_g/2)²/n_g, folds sequentially over the group-sorted array
    (the ``anova_oneway`` determinism recipe).

    Output: one row ``(k, n, h_stat)``; NULL when k < 2 or every
    value is tied (the correction denominator hits zero).
    """
    from icnarc_to_philips_linkage_spark.operators.scale import (
        global_prefix_sums,
    )

    gv = (
        df.filter(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    vgrain = gv.groupBy(value_col).agg(F.sum("__c").alias("__cv"))
    staged_v, _ = global_prefix_sums(vgrain, [value_col], ["__cv"])
    ranks = staged_v.select(
        value_col,
        "__cv",
        (2 * F.col("cum___cv") - F.col("__cv") + 1).alias("__r2"),
    )
    per_group = (
        gv.join(ranks.select(value_col, "__r2"), value_col)
        .groupBy(group_col)
        .agg(
            F.sum("__c").alias("__n"),
            F.sum(
                (
                    F.col("__c").cast("decimal(38,0)")
                    * F.col("__r2").cast("decimal(38,0)")
                ).cast("decimal(38,0)")
            ).alias("__r2g"),
        )
    )
    cv = F.col("__cv").cast("decimal(38,0)")
    tie_row = ranks.agg(
        F.sum((cv * cv * cv - cv).cast("decimal(38,0)"))
        .cast("double")
        .alias("__ties")
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(group_col).cast("string").alias("g"),
                F.col("__n").cast("double").alias("n"),
                F.col("__r2g").cast("double").alias("r2"),
            )
        )
    )
    agg = per_group.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("__n").alias("n"),
        arr.alias("__arr"),
    ).join(F.broadcast(tie_row))
    rsum = F.aggregate(
        F.expr("transform(__arr, x -> (x.r2 / 2.0) * (x.r2 / 2.0) / x.n)"),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    n = F.col("n").cast("double")
    h = (F.lit(12.0) / (n * (n + 1))) * rsum - 3.0 * (n + 1)
    corr = F.lit(1.0) - F.col("__ties") / (n * n * n - n)
    ok = (F.col("k") >= 2) & (corr > 0)
    return agg.select(
        "k",
        "n",
        F.round(F.when(ok, h / corr), round_dp).alias("h_stat"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Friedman test (Friedman 1937): the BLOCKED k-sample rank test —
    did any treatment systematically rank higher when every block
    (user, day, prompt) scores all k treatments? The repeated-measures
    complement of ``kruskal_wallis`` (which assumes independent
    groups), with the standard tie correction
    ``C = 1 − Σ(t³−t)/(n·k·(k²−1))`` over within-block value ties.

    Cells aggregate as ``max(value)`` per (block, treatment) — the
    one-observation-per-cell contract made deterministic — and only
    COMPLETE blocks (all k treatments present) enter, per the classic
    treatment. Blocks are tiny (k treatments each, per-cell
    multiplicity ~1 by the contract), so the whole block machinery is
    ONE corpus shuffle and zero window sorts:
    ``groupBy(block).agg(collect_list(struct(t, v)))`` builds the
    per-block array directly from raw rows; the max-per-cell dedupe,
    the completeness check (k distinct treatments), and the doubled
    tie-averaged mid-rank (``2·#(y<x) + #(y==x) + 1`` — exact
    integers) are all O(k²) array folds in whole-stage codegen. The
    global k is one map-combined ``countDistinct`` pass; per-
    treatment rank sums ride an explode + map-combined groupBy
    (k rows per map task on the wire). Per-treatment rank sums and
    the tie term are exact decimal sums, and the only float
    reduction Σ_j R_j² folds sequentially over the treatment-sorted
    array (the ``kruskal_wallis`` determinism recipe). If per-cell
    multiplicity were ever corpus-scale (a hot cell), pre-aggregate
    to cells with ``groupBy(block, treatment).max`` before calling —
    the arrays here are sized by the RAW rows of a block.

    Output: one row ``(k, n_blocks, chi2_f)`` — NULL when k < 2,
    n_blocks = 0, or every block is fully tied (C = 0).
    """
    src = df.filter(
        F.col(block_col).isNotNull()
        & F.col(treatment_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(block_col).alias("__b"),
        F.col(treatment_col).alias("__t"),
        F.col(value_col).alias("__v"),
    )
    # global k: map-combined partial-distinct scalar pass (k values
    # per map task on the wire)
    k_row = src.agg(
        F.countDistinct("__t").cast("long").alias("__k")
    )
    # max-per-(block, treatment) cell dedupe INSIDE the array — the
    # window-free equivalent of groupBy(b, t).agg(max(v))
    def cell_arr(raw):
        return F.transform(
            F.array_distinct(F.transform(raw, lambda x: x["t"])),
            lambda t: F.struct(
                t.alias("t"),
                F.array_max(
                    F.transform(
                        F.filter(raw, lambda y: y["t"] == t),
                        lambda y: y["v"],
                    )
                ).alias("v"),
            ),
        )

    # doubled tie-averaged mid-rank of x within its block:
    # 2·#(strictly smaller) + #(equal) + 1 — identical to the window
    # form 2·RANK() + tied − 1, but computed by an O(k²) array fold
    def rank_arr(a):
        return F.transform(
            a,
            lambda x: F.struct(
                x["t"].alias("t"),
                (
                    F.lit(2)
                    * F.size(F.filter(a, lambda y: y["v"] < x["v"]))
                    + F.size(F.filter(a, lambda y: y["v"] == x["v"]))
                    + F.lit(1)
                ).cast("long").alias("r2"),
                F.size(F.filter(a, lambda y: y["v"] == x["v"]))
                .cast("long")
                .alias("tied"),
            ),
        )

    # `let` binds the deduped cell array ONCE per block (HOFs are
    # interpreted — no codegen CSE — and Catalyst can re-inline plain
    # aliases into every consumer); NULL for incomplete blocks, which
    # explode() then drops.  Cell arrays are distinct per treatment,
    # so a block is complete iff the deduped array holds k entries.
    ranked_expr = expressions.let(
        cell_arr(F.col("__raw")),
        lambda a: F.when(F.size(a) == F.col("__k"), rank_arr(a)),
    )
    ranked = (
        src.groupBy("__b")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("__t").alias("t"), F.col("__v").alias("v")
                )
            ).alias("__raw")
        )
        .crossJoin(F.broadcast(k_row))
        .select(ranked_expr.alias("__ra"))
        .select(F.explode("__ra").alias("__e"))
        .select(
            F.col("__e.t").alias("__t"),
            F.col("__e.r2").alias("__r2"),
            F.col("__e.tied").alias("__tied"),
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # within-block tie term: each (block, v) run of size t contributes
    # t³ − t; every member row carries __tied = t, so summing
    # (t² − 1) per row gives the same total — folded into the SAME
    # treatment-grain aggregation so the expensive per-block array
    # folds run exactly once (a second global-agg branch over
    # ``ranked`` would re-execute them)
    per_t = ranked.groupBy("__t").agg(
        F.sum(dec(F.col("__r2"))).alias("__rs2"),
        F.count(F.lit(1)).alias("__nb"),
        F.sum(
            dec(F.col("__tied")) * dec(F.col("__tied")) - 1
        ).alias("__tiet"),
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__t").cast("string").alias("t"),
                F.col("__rs2").cast("double").alias("rs2"),
            )
        )
    )
    agg = per_t.agg(
        F.max("__nb").alias("__n"),
        F.count(F.lit(1)).alias("__kk"),
        arr.alias("__arr"),
        F.sum("__tiet").cast("double").alias("__ties"),
    )
    rsum = F.aggregate(
        F.expr("transform(__arr, x -> (x.rs2 / 2.0) * (x.rs2 / 2.0))"),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    n = F.col("__n").cast("double")
    k = F.col("__kk").cast("double")
    chi = (F.lit(12.0) / (n * k * (k + 1.0))) * rsum - 3.0 * n * (
        k + 1.0
    )
    corr = F.lit(1.0) - F.col("__ties") / (n * k * (k * k - 1.0))
    ok = (F.col("__kk") >= 2) & (F.col("__n") > 0) & (corr > 0)
    return agg.select(
        F.col("__kk").cast("long").alias("k"),
        F.col("__n").cast("long").alias("n_blocks"),
        F.round(F.when(ok, chi / corr), round_dp).alias("chi2_f"),
    )


def kendall_w(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Kendall's coefficient of concordance W (Kendall & Babington
    Smith 1939): how strongly do m raters (blocks) AGREE on the
    ranking of k items (treatments)? The normalized ``friedman_test``
    — ``W = χ²_F / (m·(k−1))``, tie-corrected through Friedman's C —
    so 0 = no agreement, 1 = perfect concordance. Same scale shape
    (one collect_list corpus shuffle, O(k²) array rank folds); the
    χ² is taken at 9dp and the division is one exact double
    expression replayed verbatim in the oracle.

    Output one row: ``(k, n_raters, w, chi2_f)`` — NULL W when the
    Friedman χ² is undefined (k < 2, no complete blocks, or all
    blocks fully tied).
    """
    f = friedman_test(
        df, block_col, treatment_col, value_col, round_dp=9
    )
    return f.select(
        "k",
        F.col("n_blocks").alias("n_raters"),
        F.round(
            F.col("chi2_f")
            / (
                F.col("n_blocks").cast("double")
                * (F.col("k").cast("double") - F.lit(1.0))
            ),
            round_dp,
        ).alias("w"),
        "chi2_f",
    )


def cochran_q(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    success_col,
    round_dp: int = 6,
) -> DataFrame:
    """Cochran's Q (Cochran 1950): the BINARY repeated-measures test —
    k treatments scored pass/fail by the same n blocks; did any
    treatment succeed more often? (``friedman_test`` degenerates on
    binary data; Q is its exact binary form, and McNemar is its
    k = 2 special case.) Integer-exact identity:

        Q = (k−1) · (k·ΣG_j² − N²) / (k·N − ΣB_i²)

    with G_j treatment success totals, B_i block success totals,
    N = ΣG = ΣB — every term an exact decimal; ONE final division.

    Cells aggregate as ``max(success)`` per (block, treatment); only
    complete blocks enter. Scale shape: one (block, treatment)
    aggregation, one block-grain and one treatment-grain reduction —
    no windows at all.

    Output: one row ``(k, n_blocks, n_success, q_stat)`` — NULL when
    the denominator is 0 (every block all-0 or all-1).
    """
    s = (
        F.col(success_col)
        if isinstance(success_col, str)
        else success_col
    ).cast("boolean")
    cells = (
        df.filter(
            F.col(block_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & s.isNotNull()
        )
        .groupBy(
            F.col(block_col).alias("__b"),
            F.col(treatment_col).alias("__t"),
        )
        .agg(F.max(s.cast("long")).alias("__x"))
    )
    k_row = cells.agg(
        F.countDistinct("__t").cast("long").alias("__k")
    )
    sized = cells.join(
        cells.groupBy("__b").agg(F.count(F.lit(1)).alias("__bk")),
        "__b",
    ).crossJoin(F.broadcast(k_row))
    complete = sized.filter(F.col("__bk") == F.col("__k"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_b = complete.groupBy("__b").agg(
        F.sum("__x").alias("__bs"), F.max("__k").alias("__k")
    )
    blocks = per_b.agg(
        F.count(F.lit(1)).alias("__n"),
        F.max("__k").alias("__kk"),
        F.sum(dec(F.col("__bs"))).alias("__nn"),
        F.sum(dec(F.col("__bs")) * dec(F.col("__bs"))).alias("__b2"),
    )
    per_t = complete.groupBy("__t").agg(F.sum("__x").alias("__g"))
    treats = per_t.agg(
        F.sum(dec(F.col("__g")) * dec(F.col("__g"))).alias("__g2")
    )
    j = blocks.crossJoin(F.broadcast(treats))
    kk = F.col("__kk").cast("decimal(38,0)")
    num = (kk - 1) * (kk * F.col("__g2") - F.col("__nn") * F.col("__nn"))
    den = kk * F.col("__nn") - F.col("__b2")
    return j.select(
        F.col("__kk").cast("long").alias("k"),
        F.col("__n").cast("long").alias("n_blocks"),
        F.col("__nn").cast("long").alias("n_success"),
        F.round(
            F.when(
                den.cast("double") > 0,
                num.cast("double") / den.cast("double"),
            ),
            round_dp,
        ).alias("q_stat"),
    )


def mood_median_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Mood's median test: count each group's values above vs at-or-
    below the POOLED grand median, then Pearson chi-square on the
    k×2 table — the robust (if low-power) k-sample location test that
    survives wild outliers and ordinal scales, the blunt companion to
    ``kruskal_wallis``.

    Exactness layout: the pooled lower median comes off the value
    grain via ``scale.global_prefix_sums`` (range exchange — the
    grain may be corpus-sized) as the minimum value whose cumulative
    count reaches ⌈N/2⌉ — an exact order statistic, broadcast back as
    a 1-row frame. The k×2 observed counts are exact integers from
    the same (group, value) grain; expected counts and χ²
    contributions fold sequentially over the group-sorted array (the
    ``kruskal_wallis`` recipe).

    Output: one row ``(k, n, grand_median, chi2)`` — NULL χ² when
    k < 2 or a marginal is empty (every value on one side).
    """
    from icnarc_to_philips_linkage_spark.operators.scale import (
        global_prefix_sums,
    )

    # r12 optimization EXAMINED AND REJECTED (guide §1.1): deriving
    # the median grain straight from the base scan and the k×2 table
    # from a second base scan (skipping this shared (group, value)
    # intermediate) measured 4.0 → 4.8 s keep-min at sf0.1 — the
    # shared gv exchange is REUSED by both consumers at runtime,
    # while the "direct" shape pays a BroadcastNestedLoopJoin over
    # the full corpus instead of over the deduplicated grain.
    gv = (
        df.filter(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .groupBy(
            F.col(group_col).alias("__g"), F.col(value_col).alias("__v")
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    vgrain = gv.groupBy("__v").agg(F.sum("__c").alias("__cv"))
    staged, totals = global_prefix_sums(vgrain, ["__v"], ["__cv"])
    n_total = totals["__cv"]
    half = (n_total + 1) // 2
    med_row = staged.filter(F.col("cum___cv") >= half).agg(
        F.min("__v").alias("__med")
    )
    per_g = (
        gv.crossJoin(F.broadcast(med_row))
        .groupBy("__g")
        .agg(
            F.sum(
                F.when(F.col("__v") > F.col("__med"), F.col("__c"))
                .otherwise(F.lit(0))
            ).alias("__ab"),
            F.sum("__c").alias("__ng"),
        )
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__g").cast("string").alias("g"),
                F.col("__ab").cast("double").alias("ab"),
                F.col("__ng").cast("double").alias("ng"),
            )
        )
    )
    agg = (
        per_g.agg(
            F.count(F.lit(1)).alias("k"),
            F.sum("__ab").alias("__abt"),
            F.sum("__ng").alias("__nt"),
            arr.alias("__arr"),
        )
        .crossJoin(F.broadcast(med_row))
        .withColumn("__abtd", F.col("__abt").cast("double"))
        .withColumn("__ntd", F.col("__nt").cast("double"))
    )
    # per group: (o_above − e_above)²/e_above + (o_le − e_le)²/e_le
    # with e_above = n_g·ab_tot/N, e_le = n_g·(N−ab_tot)/N
    chi = F.aggregate(
        F.expr(
            "transform(__arr, x -> "
            "(x.ab - x.ng * __abtd / __ntd)"
            " * (x.ab - x.ng * __abtd / __ntd)"
            " / (x.ng * __abtd / __ntd)"
            " + ((x.ng - x.ab) - x.ng * (__ntd - __abtd) / __ntd)"
            " * ((x.ng - x.ab) - x.ng * (__ntd - __abtd) / __ntd)"
            " / (x.ng * (__ntd - __abtd) / __ntd))"
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    ok = (
        (F.col("k") >= 2)
        & (F.col("__abtd") > 0)
        & (F.col("__abtd") < F.col("__ntd"))
    )
    return agg.select(
        F.col("k").cast("long").alias("k"),
        F.col("__nt").cast("long").alias("n"),
        F.col("__med").alias("grand_median"),
        F.round(F.when(ok, chi), round_dp).alias("chi2"),
    )


def dispersion_index(
    df: DataFrame,
    key_col: str,
    value_col,
    round_dp: int = 6,
) -> DataFrame:
    """Index of dispersion per key (variance-to-mean ratio) with the
    chi-square overdispersion statistic ``(n−1)·s²/x̄`` — the
    "is this count stream Poisson or bursty" screen (VMR ≈ 1 Poisson,
    ≫ 1 clumped/bursty, ≪ 1 regular) that decides whether
    ``poisson_two_rate``'s model even applies.

    Exactness: values quantize to integer cents; n, Σx, Σx² are exact
    decimals per key in ONE map-combined aggregation, and both
    statistics are fixed expressions over them (the sample variance
    uses the n·Σx² − (Σx)² integer form — no mean-centered float
    accumulation).

    Output per key: ``(key, n, mean, vmr, chi2)`` — NULL vmr/chi2
    when n < 2 or the mean is 0.
    """
    v = (
        F.col(value_col)
        if isinstance(value_col, str)
        else value_col
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    base = df.filter(F.col(key_col).isNotNull() & v.isNotNull()).select(
        F.col(key_col).alias("__k"),
        F.round(v * 100).cast("long").alias("__x"),
    )
    agg = base.groupBy("__k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("__x"))).alias("__sx"),
        F.sum(dec(F.col("__x")) * dec(F.col("__x"))).alias("__sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    # n·Σx² − (Σx)² is exact BEFORE the cast (cents² headroom)
    dev2 = (
        dec(F.col("n")) * F.col("__sxx")
        - F.col("__sx") * F.col("__sx")
    ).cast("double")
    mean_c = sx / n  # cents
    var_c = dev2 / (n * (n - 1.0))  # cents², sample variance
    ok = (F.col("n") >= 2) & (F.col("__sx") > 0)
    vmr = var_c / mean_c  # cents cancel once: VMR is in cents of x
    return agg.select(
        F.col("__k").alias(key_col),
        F.col("n").cast("long").alias("n"),
        F.round(mean_c / 100.0, round_dp).alias("mean"),
        F.round(F.when(ok, vmr / 100.0), round_dp).alias("vmr"),
        F.round(
            F.when(ok, (n - 1.0) * var_c / mean_c / 100.0),
            round_dp,
        ).alias("chi2"),
    )


def _runs_segmented(base: DataFrame, segments: int) -> DataFrame:
    """Skew-immune run counting for ``runs_test(segments=B)``: split
    every key's series into ≤B time-contiguous segments at per-key
    approximate t-quantile fences, count runs per (key, segment) with
    the usual lag window — parallelism #keys·B instead of #keys —
    then merge exactly: R = Σ R_seg − #[adjacent segments whose
    touching flags agree]. Exactness does not depend on the fences
    (any time-contiguous segmentation merges associatively); the
    quantiles only balance segment sizes. Fences come from
    percentile_approx over ``__g``, a numeric MONOTONE image of the
    time order (the double cast of ``time_col`` by default; for
    composite/struct times the caller supplies one via ``seg_col`` —
    it may be non-injective: rows sharing an image value land in the
    same segment, which preserves contiguity). Requires a key
    cardinality small enough to broadcast the per-key fence rows —
    the fat-key regime this path exists for."""
    tnum = F.col("__g")
    probs = [i / segments for i in range(1, segments)]
    fences = base.groupBy("__k").agg(
        F.percentile_approx(tnum, probs, 1000).alias("__f")
    )
    seg = base.join(F.broadcast(fences), "__k").select(
        "__k",
        "__t",
        "__x",
        F.size(
            F.filter(F.col("__f"), lambda f: f < F.col("__g"))
        ).alias("__seg"),
    )
    w = Window.partitionBy("__k", "__seg").orderBy("__t")
    flagged = seg.select(
        "__k",
        "__seg",
        "__t",
        "__x",
        (
            F.lag("__x", 1).over(w).isNull()
            | (F.col("__x") != F.lag("__x", 1).over(w))
        ).cast("long").alias("__new_run"),
    )
    units = flagged.groupBy("__k", "__seg").agg(
        F.count(F.lit(1)).alias("un"),
        F.sum(F.col("__x").cast("long")).alias("u1"),
        F.sum("__new_run").alias("uruns"),
        F.min_by("__x", "__t").alias("ufirst"),
        F.max_by("__x", "__t").alias("ulast"),
    )
    merged = units.groupBy("__k").agg(
        F.sum("un").alias("n"),
        F.sum("u1").alias("n_ones"),
        F.sum("uruns").alias("__rsum"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("__seg").alias("s"),
                    F.col("ufirst").alias("f"),
                    F.col("ulast").alias("l"),
                )
            )
        ).alias("__ua"),
    )
    ua = F.col("__ua")
    # a run spanning two adjacent present segments was counted twice;
    # empty segments between present ones change nothing (their
    # neighbours' rows are still time-adjacent). sequence() guard:
    # sequence(1, 0) would generate a DESCENDING range
    joins = F.when(
        F.size(ua) > 1,
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.size(ua) - 1),
                lambda i: F.element_at(ua, i)["l"]
                == F.element_at(ua, i + 1)["f"],
            )
        ),
    ).otherwise(F.lit(0))
    return merged.select(
        "__k",
        "n",
        "n_ones",
        (F.col("__rsum") - joins).alias("n_runs"),
    )


def runs_test(
    df: DataFrame,
    key_col: str,
    time_col: str,
    flag_col,
    round_dp: int = 9,
    segments: int | None = None,
    seg_col=None,
) -> DataFrame:
    """Wald–Wolfowitz runs test per key: is a binary sequence over
    time RANDOM, or does it cluster (fewer runs — regime/batch
    effects) or alternate (more runs — oscillation)? R = number of
    runs; under H₀ conditional on n₁ ones and n₀ zeros,

        E[R] = 1 + 2n₁n₀/n,
        Var  = 2n₁n₀(2n₁n₀ − n) / (n²(n − 1))

    Scale shape, default path: ONE per-key window ordered by time
    (corpus-parallel — the partition key is the series key) counts
    boundaries ``flag ≠ lag(flag)``; R, n₁, n₀ are exact integers
    and the moments exact-integer ratios, so z is one fixed
    expression. Two-sided p via the shared A&S tail. Ties in
    ``time_col`` must be broken by the caller (include a tiebreak
    column via a pre-sorted composite if needed — the MK series
    contract).

    ``segments=B`` selects the SKEW-IMMUNE path for fat keys (a
    per-key window serializes each key onto one task): per-key
    approximate t-quantile fences split every series into ≤B
    time-contiguous segments, the boundary window partitions by
    (key, segment) — parallelism #keys·B — and runs merge exactly
    across segments (R = Σ R_seg − #[adjacent segments whose
    touching flags agree], folded over a ≤B-element sorted array per
    key). Identical output to the default path: run counting is
    associative over any time-contiguous segmentation, and the fence
    quantiles only steer BALANCE, never values. ``seg_col`` supplies
    the numeric monotone image of the time order the fences cut
    (default: the double cast of ``time_col``); pass one whenever
    ``time_col`` is a composite/struct.

    Output per key: ``(key, n, n_ones, n_runs, z, p_value)`` — z
    NULL when either symbol is absent or n < 2.
    """
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        normal_sf_approx,
    )

    fl = (
        F.col(flag_col) if isinstance(flag_col, str) else flag_col
    ).cast("boolean")
    seg_on = bool(segments and segments > 1)
    base = df.filter(
        F.col(key_col).isNotNull()
        & F.col(time_col).isNotNull()
        & fl.isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.col(time_col).alias("__t"),
        fl.alias("__x"),
        # the fence image column exists only on the segmented path —
        # a struct time_col has no double cast, and the default path
        # must keep accepting composite times
        *(
            [
                (
                    seg_col
                    if seg_col is not None
                    else F.col(time_col)
                ).cast("double").alias("__g")
            ]
            if seg_on
            else []
        ),
    )
    if seg_on:
        agg = _runs_segmented(base, segments)
    else:
        w = Window.partitionBy("__k").orderBy("__t")
        flagged = base.select(
            "__k",
            "__x",
            (
                F.lag("__x", 1).over(w).isNull()
                | (F.col("__x") != F.lag("__x", 1).over(w))
            ).cast("long").alias("__new_run"),
        )
        agg = flagged.groupBy("__k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("__x").cast("long")).alias("n_ones"),
            F.sum("__new_run").alias("n_runs"),
        )
    n = F.col("n").cast("double")
    n1 = F.col("n_ones").cast("double")
    n0 = (F.col("n") - F.col("n_ones")).cast("double")
    e_r = 1.0 + 2.0 * n1 * n0 / n
    var_r = (
        2.0 * n1 * n0 * (2.0 * n1 * n0 - n) / (n * n * (n - 1.0))
    )
    ok = (F.col("n_ones") > 0) & (F.col("n_ones") < F.col("n")) & (
        F.col("n") >= 2
    )
    zz = F.when(
        ok & (var_r > 0),
        (F.col("n_runs").cast("double") - e_r) / F.sqrt(var_r),
    )
    return agg.select(
        F.col("__k").alias(key_col),
        F.col("n").cast("long").alias("n"),
        F.col("n_ones").cast("long").alias("n_ones"),
        F.col("n_runs").cast("long").alias("n_runs"),
        F.round(zz, round_dp).alias("z"),
        F.round(
            F.lit(2.0) * normal_sf_approx(F.abs(zz)), round_dp
        ).alias("p_value"),
    )


def page_l_trend(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    treatment_order: list[str],
    round_dp: int = 9,
) -> DataFrame:
    """Page's L trend test (Page 1963): the DIRECTIONAL sibling of
    ``friedman_test`` — do within-block ranks increase along a
    caller-given treatment ordering? ``L = Σ_j c_j·R_j`` with
    ``c_j`` the 1-based ordinal of treatment j. The null moments are
    computed EXACTLY conditional on the observed (possibly tied)
    mid-ranks under within-block label permutation:

        E[L]   = Σ_b (Σc)·(ΣR_b)/k
        Var[L] = Σ_b [Σc² − (Σc)²/k]·[ΣR_b² − (ΣR_b)²/k]/(k−1)

    so ties need no approximate correction — blocks that are fully
    tied simply contribute zero variance. One-sided upper-tail p
    (the ordered alternative) via the shared A&S normal tail.

    Scale shape: the ``friedman_test`` machinery, minus even the
    global-k pass (k is statically known): treatments outside
    ``treatment_order`` are dropped first, then ONE
    ``collect_list(struct(c, v))`` per block — the single corpus
    shuffle — and every remaining step is an O(k²) array fold in
    whole-stage codegen (max-per-cell dedupe, completeness, doubled
    tie-averaged mid-ranks, per-block L2/ΣR2² exact-long sums), then
    ONE aggregation of exact integer sums; every moment is an
    expression over exact decimals with a single final sqrt. Zero
    window sorts, zero joins.

    Output one row: ``(k, n_blocks, l_stat, z, p_value_one_sided)``
    — z NULL when the permutation variance is 0.
    """
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        normal_sf_approx,
    )

    k = len(treatment_order)
    if k < 2:
        raise ValueError("treatment_order needs >= 2 treatments")
    ordmap = F.create_map(
        *[
            x
            for t, i in (
                (t, i + 1) for i, t in enumerate(treatment_order)
            )
            for x in (F.lit(t), F.lit(i))
        ]
    )
    src = (
        df.filter(
            F.col(block_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .select(
            F.col(block_col).alias("__b"),
            ordmap[F.col(treatment_col).cast("string")].alias("__c"),
            F.col(value_col).alias("__v"),
        )
        .filter(F.col("__c").isNotNull())
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    # max-per-(block, ordinal) cell dedupe inside the array — the
    # window-free groupBy(b, c).agg(max(v)); k is static so no
    # global countDistinct pass is needed at all
    def cell_arr(raw):
        return F.transform(
            F.array_distinct(F.transform(raw, lambda x: x["c"])),
            lambda c: F.struct(
                c.alias("c"),
                F.array_max(
                    F.transform(
                        F.filter(raw, lambda y: y["c"] == c),
                        lambda y: y["v"],
                    )
                ).alias("v"),
            ),
        )

    # doubled tie-averaged mid-rank (2·#(y<x) + #(y==x) + 1) paired
    # with the treatment ordinal — an O(k²) array fold per block
    # replaces the two block-partitioned rank windows; per-block sums
    # are exact longs (c ≤ k, r2 ≤ 2k+1), widened to decimal before
    # the global reduction
    def rc_of(a):
        return F.transform(
            a,
            lambda x: F.struct(
                x["c"].cast("long").alias("c"),
                (
                    F.lit(2)
                    * F.size(F.filter(a, lambda y: y["v"] < x["v"]))
                    + F.size(F.filter(a, lambda y: y["v"] == x["v"]))
                    + F.lit(1)
                ).cast("long").alias("r2"),
            ),
        )

    # nested `let`s bind the deduped cell array and the ranked array
    # ONCE per block each (HOFs are interpreted — no codegen CSE);
    # incomplete blocks yield a NULL struct, which count()/sum() in
    # the final aggregation then skip — deduped cell arrays are
    # distinct per ordinal, so complete ⇔ size k
    block_expr = expressions.let(
        cell_arr(F.col("__rawa")),
        lambda a: F.when(
            F.size(a) == k,
            expressions.let(
                rc_of(a),
                lambda rc: F.struct(
                    F.aggregate(
                        rc,
                        F.lit(0).cast("long"),
                        lambda s, x: s + x["c"] * x["r2"],
                    ).alias("l2b"),
                    F.aggregate(
                        rc,
                        F.lit(0).cast("long"),
                        lambda s, x: s + x["r2"] * x["r2"],
                    ).alias("r2sq"),
                ),
            ),
        ),
    )
    per_b = (
        src.groupBy("__b")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("__c").alias("c"), F.col("__v").alias("v")
                )
            ).alias("__rawa")
        )
        .select(block_expr.alias("__s"))
    )
    sum_c = k * (k + 1) // 2
    sum_c2 = sum(
        (i + 1) * (i + 1) for i in range(k)
    )
    sum_r2 = k * (k + 1)  # doubled rank sum per block, tie-invariant
    # per-block doubled-L permutation variance numerator:
    # (k·Σc² − (Σc)²)·(k·ΣR2² − (ΣR2)²); divide by k²(k−1) once
    cfac = k * sum_c2 - sum_c * sum_c
    agg = per_b.agg(
        F.count("__s").alias("n_blocks"),
        F.sum(dec(F.col("__s.l2b"))).alias("__l2"),
        F.sum(
            F.lit(cfac).cast("decimal(38,0)")
            * (
                F.lit(k).cast("decimal(38,0)") * dec(F.col("__s.r2sq"))
                - F.lit(sum_r2 * sum_r2).cast("decimal(38,0)")
            )
        ).alias("__varnum"),
    )
    nb = F.col("n_blocks").cast("decimal(38,0)")
    # E2 per block = (Σc)·(ΣR2)/k = Σc·(k+1) — an exact integer
    e2 = nb * F.lit(sum_c * (k + 1)).cast("decimal(38,0)")
    var4 = F.col("__varnum").cast("double") / float(k * k * (k - 1))
    zz = F.when(
        (F.col("n_blocks") > 0) & (var4 > 0),
        (F.col("__l2").cast("double") - e2.cast("double"))
        / F.sqrt(var4),
    )
    return agg.select(
        F.lit(k).cast("long").alias("k"),
        F.col("n_blocks").cast("long").alias("n_blocks"),
        (F.col("__l2").cast("double") / 2.0).alias("l_stat"),
        F.round(zz, round_dp).alias("z"),
        F.round(
            F.when(zz >= 0, normal_sf_approx(zz)).otherwise(
                F.lit(1.0) - normal_sf_approx(-zz)
            ),
            round_dp,
        ).alias("p_value_one_sided"),
    )


def cvm_two_sample_exact(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_dp: int = 9,
) -> DataFrame:
    """Two-sample Cramér–von Mises statistic — the WHOLE-curve ECDF
    distance next to ``ks_two_sample_exact``'s single worst gap:

        T = (n_a·n_b / N²) · Σ_pooled obs (F_A(x) − F_B(x))²

    evaluated on the pooled distinct-value grain (each value v
    contributes ``count(v)·gap(v)²``). KS misses a distribution pair
    that differs slightly EVERYWHERE; CvM integrates it.

    Exactness: ``gap(v) = (cumA·n_b − cumB·n_a)/(n_a·n_b)`` rides the
    exact integer cross-products of the KS recipe (running counts via
    ``scale.global_prefix_sums`` — the grain may be corpus-sized);
    each value's term quantizes to the 1e-9 grid before summing
    (order-free exact decimals; the squared integer form would pass
    decimal(38,0) at ~50M rows/side, so the quantized-double form is
    the scale-safe one and its error is below the output round).

    Output one row: ``(n_a, n_b, t_stat)`` — NULL when either group
    is empty.
    """
    from icnarc_to_philips_linkage_spark.operators.scale import (
        global_prefix_sums,
    )

    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    ).select(
        (F.col(group_col) == group_a).alias("__is_a"),
        F.col(value_col),
    )
    counts = base.groupBy(value_col).agg(
        F.count(F.when(F.col("__is_a"), F.lit(1))).alias("__ca"),
        F.count(F.when(~F.col("__is_a"), F.lit(1))).alias("__cb"),
    )
    staged, totals = global_prefix_sums(
        counts, [value_col], ["__ca", "__cb"]
    )
    na, nb = totals["__ca"], totals["__cb"]
    if na == 0 or nb == 0:
        sess = df.sparkSession
        return sess.createDataFrame(
            [(na, nb, None)],
            "n_a long, n_b long, t_stat double",
        )
    gap = (
        F.col("cum___ca").cast("double") * float(nb)
        - F.col("cum___cb").cast("double") * float(na)
    ) / float(na * nb)
    cv = (F.col("__ca") + F.col("__cb")).cast("double")
    term_q = F.floor(cv * (gap * gap) * 1e9 + 0.5).cast(
        "decimal(38,0)"
    )
    agg = staged.agg(F.sum(term_q).alias("__qsum"))
    nn = float(na + nb)
    t_stat = (
        F.col("__qsum").cast("double")
        / 1e9
        * (float(na) * float(nb) / (nn * nn))
    )
    return agg.select(
        F.lit(na).cast("long").alias("n_a"),
        F.lit(nb).cast("long").alias("n_b"),
        F.round(t_stat, round_dp).alias("t_stat"),
    )


def jonckheere_trend(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_order: list[str],
    round_dp: int = 9,
) -> DataFrame:
    """Jonckheere–Terpstra test for an ORDERED alternative
    (Jonckheere 1954): do values trend upward along a caller-given
    group ordering (dose levels, model generations, data-quality
    tiers)? Strictly more powerful than ``kruskal_wallis`` when the
    hypothesis IS the ordering. ``JT = Σ_{i<j} U_ij`` over ordered
    group pairs (ties count ½); equivalently Kendall's S between the
    group ordinal and the value, which gives the exact tie-corrected
    null variance (the Mann–Kendall/τ-b algebra with group sizes as
    the x-tie blocks):

        z = S / sqrt(v1/18 + v2 + v3),   S = 2·JT − Σ_{i<j} n_i n_j

    Scale shape: the corpus collapses to the (group ordinal, value)
    CELL GRID in one aggregation (the ``kendall_tau_b`` contract —
    bounded by k × the value grid); C and the cross-group tie count
    come from one broadcast self-join over that grid; every variance
    term is an exact decimal off the k-row group sizes and the value
    tie blocks. Two-sided p via the shared A&S normal tail.

    ``group_order`` pins the ordinal explicitly (ascending
    hypothesis); rows in groups outside it are dropped.

    Output one row: ``(k, n, jt_stat, z, p_value)`` — z NULL when
    the variance is 0 (one group, or all values tied).
    """
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        normal_sf_approx,
    )

    ordmap = F.create_map(
        *[
            x
            for g, i in ((g, i) for i, g in enumerate(group_order))
            for x in (F.lit(g), F.lit(i))
        ]
    )
    cells = (
        df.filter(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .select(
            ordmap[F.col(group_col).cast("string")].alias("__g"),
            F.col(value_col).alias("__v"),
        )
        .filter(F.col("__g").isNotNull())
        .groupBy("__g", "__v")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    a = cells.select(
        F.col("__g").alias("__ga"),
        F.col("__v").alias("__va"),
        F.col("__c").alias("__ca"),
    )
    b = cells.select(
        F.col("__g").alias("__gb"),
        F.col("__v").alias("__vb"),
        F.col("__c").alias("__cb"),
    )
    z0 = F.lit(0).cast("decimal(38,0)")
    pairs = a.join(F.broadcast(b), F.col("__gb") > F.col("__ga")).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__vb") > F.col("__va"),
                    dec(F.col("__ca")) * dec(F.col("__cb")),
                ).otherwise(z0)
            ),
            z0,
        ).alias("__conc"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__vb") == F.col("__va"),
                    dec(F.col("__ca")) * dec(F.col("__cb")),
                ).otherwise(z0)
            ),
            z0,
        ).alias("__xt"),
    )

    def tie_sums(key: str, n1: str, n2: str, n3: str) -> DataFrame:
        t = cells.groupBy(key).agg(F.sum("__c").alias("__t"))
        td = dec(F.col("__t"))
        return t.agg(
            F.sum(td * (td - 1) * (2 * td + 5)).alias(n1),
            F.sum(td * (td - 1) * (td - 2)).alias(n2),
            F.sum(td * (td - 1)).alias(n3),
        )
    gt = tie_sums("__g", "__gt1", "__gt2", "__gt3")
    vt = tie_sums("__v", "__vt1", "__vt2", "__vt3")
    sizes = cells.groupBy("__g").agg(F.sum("__c").alias("__ng"))
    ksum = sizes.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("__ng").alias("n"),
        F.sum(dec(F.col("__ng")) * dec(F.col("__ng"))).alias("__sn2"),
    )
    j = (
        ksum.crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(gt))
        .crossJoin(F.broadcast(vt))
    )
    nD = dec(F.col("n"))
    # cross-group pairs P = (n² − Σn²)/2 exactly (always even)
    p_pairs = (nD * nD - F.col("__sn2")) / 2
    s = (
        2 * F.col("__conc") + F.col("__xt") - p_pairs
    ).cast("decimal(38,1)")
    nd = F.col("n").cast("double")
    v1 = (
        (nD * (nD - 1) * (2 * nD + 5)).cast("double")
        - F.col("__gt1").cast("double")
        - F.col("__vt1").cast("double")
    ) / 18.0
    v2 = (
        F.col("__gt2").cast("double") * F.col("__vt2").cast("double")
    ) / (9.0 * nd * (nd - 1.0) * (nd - 2.0))
    v3 = (
        F.col("__gt3").cast("double") * F.col("__vt3").cast("double")
    ) / (2.0 * nd * (nd - 1.0))
    staged = j.select(
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n"),
        (
            (F.col("__conc").cast("double"))
            + F.col("__xt").cast("double") / 2.0
        ).alias("jt_stat"),
        s.cast("double").alias("s_raw"),
        v1.alias("__v1"),
        v2.alias("__v2"),
        v3.alias("__v3"),
    )
    var2 = F.col("__v1") + F.col("__v2") + F.col("__v3")
    zz = F.when(
        (F.col("k") >= 2) & (F.col("n") >= 3) & (var2 > 0),
        F.col("s_raw") / F.sqrt(var2),
    )
    return staged.select(
        "k",
        "n",
        "jt_stat",
        F.round(zz, round_dp).alias("z"),
        F.round(
            F.lit(2.0) * normal_sf_approx(F.abs(zz)), round_dp
        ).alias("p_value"),
    )


def dunn_posthoc(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_dp: int = 9,
) -> DataFrame:
    """Dunn's test (Dunn 1964): the PAIRWISE post-hoc that follows a
    significant ``kruskal_wallis`` — which groups actually differ?
    For groups i, j on the pooled tie-averaged ranking:

        z_ij = (R̄_i − R̄_j) / sqrt(σ² · (1/n_i + 1/n_j)),
        σ²   = N(N+1)/12 − Σ(t³−t) / (12(N−1))

    (the tie-corrected pooled rank variance), two-sided
    ``p = 2·Q(|z|)`` via the shared A&S normal tail. The canonical
    consumer of ``evaluation.bh_fdr`` — feed the k(k−1)/2 p-values in
    family-wise (round-10 verdict task #4).

    Exactness: the ``kruskal_wallis`` machinery verbatim — (group,
    value) counts in one corpus aggregation, doubled tie-averaged
    ranks via ``scale.global_prefix_sums`` on the value grain,
    per-group doubled rank sums and the tie term as exact decimals.
    The pairwise stage is a self-join of the k-row per-group frame
    (a.group < b.group) with the 1-row totals broadcast on — fully
    declarative, no driver collect; bounded by k², and k is the
    group-key cardinality the caller already owns.

    Output: one row per unordered pair ``(group_a, group_b, n_a,
    n_b, mean_rank_a, mean_rank_b, z, p_value)``, z sign from
    ascending group order; z/p NULL when σ² ≤ 0 (every pooled value
    tied) or N < 2.
    """
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        normal_sf_approx,
    )
    from icnarc_to_philips_linkage_spark.operators.scale import (
        global_prefix_sums,
    )

    gv = (
        df.filter(
            F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
        )
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    vgrain = gv.groupBy(value_col).agg(F.sum("__c").alias("__cv"))
    staged_v, _ = global_prefix_sums(vgrain, [value_col], ["__cv"])
    ranks = staged_v.select(
        value_col,
        "__cv",
        (2 * F.col("cum___cv") - F.col("__cv") + 1).alias("__r2"),
    )
    per_group = (
        gv.join(ranks.select(value_col, "__r2"), value_col)
        .groupBy(group_col)
        .agg(
            F.sum("__c").alias("__n"),
            F.sum(
                (
                    F.col("__c").cast("decimal(38,0)")
                    * F.col("__r2").cast("decimal(38,0)")
                ).cast("decimal(38,0)")
            ).alias("__r2g"),
        )
    )
    cv = F.col("__cv").cast("decimal(38,0)")
    tot = ranks.agg(
        F.sum("__cv").cast("decimal(38,0)").alias("__nn"),
        F.sum((cv * cv * cv - cv).cast("decimal(38,0)")).alias(
            "__ties"
        ),
    )
    a = per_group.select(
        F.col(group_col).cast("string").alias("group_a"),
        F.col("__n").alias("n_a"),
        F.col("__r2g").alias("__r2a"),
    )
    b = per_group.select(
        F.col(group_col).cast("string").alias("group_b"),
        F.col("__n").alias("n_b"),
        F.col("__r2g").alias("__r2b"),
    )
    pairs = (
        a.join(b, F.col("group_a") < F.col("group_b"))
        .join(F.broadcast(tot))
    )
    nd = F.col("__nn").cast("double")
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    mean_a = F.col("__r2a").cast("double") / 2.0 / na
    mean_b = F.col("__r2b").cast("double") / 2.0 / nb
    sigma2 = nd * (nd + 1.0) / 12.0 - F.col("__ties").cast(
        "double"
    ) / (12.0 * (nd - 1.0))
    var_ij = sigma2 * (1.0 / na + 1.0 / nb)
    ok = (F.col("__nn") >= 2) & (sigma2 > 0)
    z = F.when(ok, (mean_a - mean_b) / F.sqrt(var_ij))
    return pairs.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        F.round(mean_a, round_dp).alias("mean_rank_a"),
        F.round(mean_b, round_dp).alias("mean_rank_b"),
        F.round(z, round_dp).alias("z"),
        F.round(
            F.lit(2.0) * normal_sf_approx(F.abs(z)), round_dp
        ).alias("p_value"),
    )


def ks_two_sample_exact(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_dp: int = 9,
) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov D between two named groups
    — no binning (the drift module's binned KS trades exactness for a
    fixed grid; this is the exact complement for when the value grain
    is already discrete or an exact answer is required).

    D = max_v |F_A(v) − F_B(v)| evaluated on the pooled distinct-value
    grain, where it provably attains its maximum. Computed entirely in
    integers: |cumA·n_b − cumB·n_a| is an exact decimal, its max is
    exact, and the single final division by n_a·n_b is the only
    double. The z-style significance scaling √(n_a·n_b/(n_a+n_b))·D is
    returned alongside (engine-exact: one shared expression).

    Scale shape: one corpus aggregation to the value grain, then the
    running counts ride ``scale.global_prefix_sums`` — the two-level
    range-partitioned prefix sum — NOT an unpartitioned ordered
    window: on a near-continuous value column the distinct grain is
    corpus-sized, and ``SUM() OVER (ORDER BY v)`` would pull all of it
    through ONE window task. The grand totals fall out of the prefix
    pass as exact driver ints (plan literals), and the max-gap reduce
    is one map-combined aggregation.
    Output: one row ``(n_a, n_b, d_stat, ks_scaled)``; NULL when
    either group is empty.
    """
    from icnarc_to_philips_linkage_spark.operators.scale import (
        global_prefix_sums,
    )

    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    ).select(
        (F.col(group_col) == group_a).alias("__is_a"), F.col(value_col)
    )
    counts = base.groupBy(value_col).agg(
        F.count(F.when(F.col("__is_a"), F.lit(1))).alias("__ca"),
        F.count(F.when(~F.col("__is_a"), F.lit(1))).alias("__cb"),
    )
    staged, totals = global_prefix_sums(
        counts, [value_col], ["__ca", "__cb"]
    )
    ta, tb = totals["__ca"], totals["__cb"]
    agg = staged.agg(
        F.max(
            F.abs(
                (
                    F.col("cum___ca").cast("decimal(38,0)")
                    * F.lit(tb).cast("decimal(38,0)")
                ).cast("decimal(38,0)")
                - (
                    F.col("cum___cb").cast("decimal(38,0)")
                    * F.lit(ta).cast("decimal(38,0)")
                ).cast("decimal(38,0)")
            )
        )
        .cast("double")
        .alias("__dmax"),
    ).select(
        F.lit(ta).cast("long").alias("n_a"),
        F.lit(tb).cast("long").alias("n_b"),
        "__dmax",
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    d = F.col("__dmax") / (na * nb)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "n_a",
        "n_b",
        F.round(F.when(ok, d), round_dp).alias("d_stat"),
        F.round(
            F.when(ok, F.sqrt(na * nb / (na + nb)) * d), round_dp
        ).alias("ks_scaled"),
    )


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: Column,
    round_dp: int = 6,
) -> DataFrame:
    """Brown–Forsythe test of variance homogeneity: one-way ANOVA on
    |x − median_g| — Levene's test with the median center (the robust
    form). A pure COMPOSITION: exact per-group medians (doubled so the
    even-count midpoint stays an exact integer), broadcast back, then
    ``anova_oneway`` on the integer deviations |2x − 2·med| (F is
    scale-invariant, so the doubling cancels).

    Callers pass ``value_col`` in exact integer units. Two corpus
    passes by construction (medians, then centered ANOVA) — the price
    of the robust center; the medians frame is group-grain and
    broadcasts.

    Output: one row ``(k, n, f_stat)`` — ``anova_oneway``'s contract
    on the deviations.
    """
    v2 = (value_col.cast("decimal(38,0)") * 2).alias("__v2")
    base = df.filter(
        value_col.isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col), v2)
    # r12 optimization EXAMINED AND REJECTED (guide §1.1 empirical
    # loop): replacing the per-group percentile ObjectHashAggregate
    # with a (group, value)-grain running-count order statistic was
    # measured 4.8 → 8.4 s keep-min at sf0.1 — the k-partition rank
    # window serializes the grain into k tasks, while percentile's
    # partial aggregation collapses each of the 32 map partitions to
    # a counts map before the k-row merge. The object-agg shape wins.
    meds = base.groupBy(group_col).agg(
        F.expr("percentile(__v2, 0.5)").cast("decimal(38,0)").alias("__m2")
    )
    dev = base.join(F.broadcast(meds), group_col).select(
        F.col(group_col),
        F.abs(F.col("__v2") - F.col("__m2")).alias("__dev2"),
    )
    return anova_oneway(dev, group_col, F.col("__dev2"), round_dp=round_dp)


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    round_dp: int = 9,
) -> DataFrame:
    """Kendall's τ-b rank correlation with the tie correction (Kendall
    1945) — the concordance twin of ``spearman_corr`` (Spearman
    squares rank gaps; τ counts pair inversions, the quantity bounds
    and property tests actually reason about):

        τ_b = (C − D) / sqrt((n₀ − n₁)(n₀ − n₂))

    with C/D the concordant/discordant pair counts, n₀ = n(n−1)/2 and
    n₁/n₂ the per-variable tie-pair sums.

    Scale shape: the corpus collapses to the JOINT (x, y) CELL GRID in
    one aggregation (bounded by the two grids' product — the ordinal/
    bounded-grid contract, same as ``chi_square_independence``); C and
    D come from ONE broadcast self-join over that bounded grid
    (cell_a strictly below-left of cell_b counts c_a·c_b concordant
    pairs exactly once), never a corpus pair join. Every count is an
    exact decimal; one final sqrt division.

    Output: one row ``(n, n_concordant, n_discordant, tau_b)`` —
    NULL τ when either variable is constant (a tie factor is 0).
    """
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(F.col(x_col).alias("__x"), F.col(y_col).alias("__y"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    a = cells.select(
        F.col("__x").alias("__xa"),
        F.col("__y").alias("__ya"),
        F.col("__c").alias("__ca"),
    )
    b = cells.select(
        F.col("__x").alias("__xb"),
        F.col("__y").alias("__yb"),
        F.col("__c").alias("__cb"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    pairs = a.join(
        F.broadcast(b), F.col("__xb") > F.col("__xa")
    ).agg(
        F.sum(
            F.when(
                F.col("__yb") > F.col("__ya"), d("__ca") * d("__cb")
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("__conc"),
        F.sum(
            F.when(
                F.col("__yb") < F.col("__ya"), d("__ca") * d("__cb")
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("__disc"),
    )
    tie = lambda col: (  # noqa: E731
        cells.groupBy(col)
        .agg(F.sum("__c").alias("__t"))
        .agg(
            F.sum(
                d("__t") * (d("__t") - 1) / 2
            ).cast("decimal(38,0)").alias("__tp")
        )
    )
    tot = cells.agg(F.sum("__c").alias("n"))
    j = (
        tot.crossJoin(F.broadcast(pairs))
        .crossJoin(
            F.broadcast(tie("__x").select(F.col("__tp").alias("__n1")))
        )
        .crossJoin(
            F.broadcast(tie("__y").select(F.col("__tp").alias("__n2")))
        )
    )
    n = F.col("n").cast("decimal(38,0)")
    n0 = (n * (n - 1) / 2).cast("decimal(38,0)")
    f1 = (n0 - F.col("__n1")).cast("double")
    f2 = (n0 - F.col("__n2")).cast("double")
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.coalesce(F.col("__conc").cast("long"), F.lit(0)).alias(
            "n_concordant"
        ),
        F.coalesce(F.col("__disc").cast("long"), F.lit(0)).alias(
            "n_discordant"
        ),
        F.when(
            (f1 > 0) & (f2 > 0),
            F.round(
                (
                    F.coalesce(F.col("__conc"), F.lit(0).cast("decimal(38,0)"))
                    - F.coalesce(F.col("__disc"), F.lit(0).cast("decimal(38,0)"))
                ).cast("double")
                / F.sqrt(f1 * f2),
                round_dp,
            ),
        ).alias("tau_b"),
    )


def weighted_median_native(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Per-group WEIGHTED lower median (type-1: the smallest value
    whose cumulative weight reaches half the total) built entirely
    from native operators — the JVM-side counterpart of the
    pandas-UDF grouped weighted median (ud3), kept deliberately
    UDF-free to demonstrate the escape hatch wasn't needed: one
    (group, value) aggregation, one running-sum window over that
    grain, and a min-reduce. All comparisons are exact integers
    (2·cumw ≥ totw — no halving, no floats anywhere). The per-group
    row/weight totals ride the SAME window pass as whole-partition
    sums (every surviving row carries them, so a max() in the final
    reduce recovers them — r12 optimization, guide §2.4: was a second
    aggregation over the grain plus a join).

    Output: ``(group, n_rows, total_weight, weighted_median)``.
    Zero/negative weights are excluded up front (they have no mass).
    """
    grain = (
        df.filter(
            F.col(value_col).isNotNull()
            & (F.col(weight_col) > 0)
        )
        .groupBy(group_col, value_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col(weight_col).cast("decimal(38,0)")).alias("__w"),
        )
    )
    wrun = Window.partitionBy(group_col).orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy(group_col)
    staged = grain.select(
        group_col,
        value_col,
        F.sum("__w").over(wrun).alias("__cum"),
        F.sum("__w").over(wtot).alias("__tot"),
        F.sum("__n").over(wtot).alias("__nr"),
    )
    return (
        staged.filter(2 * F.col("__cum") >= F.col("__tot"))
        .groupBy(group_col)
        .agg(
            F.max("__nr").alias("n_rows"),
            F.max("__tot").cast("double").alias("total_weight"),
            F.min(value_col).alias("weighted_median"),
        )
        .select(group_col, "n_rows", "total_weight", "weighted_median")
    )


def cochran_armitage_trend(
    df: DataFrame,
    score_col: Column,
    outcome_col: Column,
    round_dp: int = 6,
) -> DataFrame:
    """Cochran–Armitage trend test: is a binary outcome's rate
    monotonically associated with an ORDERED integer score (dose,
    priority level, ordinal bucket)? The ordered-category complement
    of ``a24``'s unordered chi-square.

    ONE corpus aggregation to five exact sums (N, R = Σy, Σs, Σs·y,
    Σs²) — scores and outcomes are integers, so every accumulator is
    an exact decimal; the z statistic T/√Var(T) with
    T = Σs·y − (R/N)Σs and Var = (R/N)(1−R/N)(Σs² − (Σs)²/N) runs in
    doubles with one shared expression tree.

    Output: one row ``(n, n_pos, z_trend)``; NULL z when the outcome
    or the score is constant.
    """
    s = score_col.cast("decimal(38,0)")
    y = outcome_col.cast("int")
    base = df.filter(score_col.isNotNull() & outcome_col.isNotNull())
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("n_pos"),
        F.sum(s).cast("double").alias("ss"),
        F.sum(F.when(y == 1, s).otherwise(F.lit(0).cast("decimal(38,0)")))
        .cast("double")
        .alias("ssy"),
        F.sum((s * s).cast("decimal(38,0)")).cast("double").alias("ss2"),
    )
    n = F.col("n").cast("double")
    r = F.col("n_pos").cast("double")
    p = r / n
    t = F.col("ssy") - p * F.col("ss")
    var = p * (1.0 - p) * (F.col("ss2") - F.col("ss") * F.col("ss") / n)
    ok = (F.col("n") > 0) & (var > 0)
    return agg.select(
        "n",
        "n_pos",
        F.round(F.when(ok, t / F.sqrt(var)), round_dp).alias("z_trend"),
    )


def cramers_v(
    df: DataFrame, col_a: str, col_b: str, round_dp: int = 9
) -> DataFrame:
    """Cramér's V association strength for two categoricals (Cramér
    1946) — the effect size ``chi_square_independence`` needs next to
    it at corpus scale (with 1e9 rows EVERYTHING is "significant";
    V says whether the association is material):
    ``V = sqrt(χ² / (n·(min(r,c)−1)))``.

    χ² comes from the computational identity
    ``χ² = n·(Σ_cells o²/(rowtot·coltot)) − n`` — zero cells
    contribute zero, so only OBSERVED combinations enter (no grid
    completion needed). One corpus aggregation to the cell table;
    marginals via windows over it; each cell's term quantizes to the
    1e-9 integer grid before the total (order-free, the engine-parity
    discipline). Output: one row ``(n, chi2, dof_min, cramers_v)``;
    NULL V when either variable is constant.
    """
    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    wa = Window.partitionBy(col_a)
    wb = Window.partitionBy(col_b)
    wall = bounded_global_partition("__o")
    staged = cells.select(
        F.col("__o"),
        F.sum("__o").over(wa).alias("__r"),
        F.sum("__o").over(wb).alias("__c"),
        F.sum("__o").over(wall).alias("__n"),
        F.size(F.collect_set(col_a).over(wall)).alias("__ka"),
        F.size(F.collect_set(col_b).over(wall)).alias("__kb"),
    )
    term = (
        F.col("__n").cast("double")
        * (F.col("__o").cast("double") * F.col("__o").cast("double"))
        / (F.col("__r").cast("double") * F.col("__c").cast("double"))
    )
    agg = staged.groupBy().agg(
        F.max("__n").alias("n"),
        F.max("__ka").alias("__ka"),
        F.max("__kb").alias("__kb"),
        F.sum(
            F.floor(term * 1e9 + 0.5).cast("decimal(38,0)")
        ).alias("__tq"),
    )
    chi2 = F.col("__tq").cast("double") / 1e9 - F.col("n").cast(
        "double"
    )
    dof_min = F.least("__ka", "__kb") - 1
    ok = dof_min > 0
    return agg.select(
        "n",
        F.round(F.when(ok, chi2), 6).alias("chi2"),
        dof_min.cast("int").alias("dof_min"),
        F.when(
            ok,
            F.round(
                F.sqrt(
                    F.greatest(chi2, F.lit(0.0))
                    / (F.col("n").cast("double") * dof_min.cast("double"))
                ),
                round_dp,
            ),
        ).alias("cramers_v"),
    )


def g_test_independence(
    df: DataFrame, col_a: str, col_b: str, round_dp: int = 6
) -> DataFrame:
    """G-test of independence (log-likelihood ratio; Sokal & Rohlf):
    ``G = 2·Σ O·ln(O/E)`` with ``E = rowtot·coltot/n`` — the
    chi-square twin that is additive across partitions of the table
    and better behaved at small expected counts. Zero-observed cells
    contribute 0 (O·ln O → 0), so only observed combinations enter.

    One corpus aggregation to the cell table; each cell's
    ``2·O·ln(O/E)`` rounds to 6dp before the exact integer total (the
    BM25 ln precedent: last-ulp libm differences cannot survive the
    per-term round). Output: one row ``(n, g_stat, dof)``.
    """
    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    wa = Window.partitionBy(col_a)
    wb = Window.partitionBy(col_b)
    wall = bounded_global_partition("__o")
    staged = cells.select(
        F.col("__o"),
        F.sum("__o").over(wa).alias("__r"),
        F.sum("__o").over(wb).alias("__c"),
        F.sum("__o").over(wall).alias("__n"),
        F.size(F.collect_set(col_a).over(wall)).alias("__ka"),
        F.size(F.collect_set(col_b).over(wall)).alias("__kb"),
    )
    e = (
        F.col("__r").cast("double")
        * F.col("__c").cast("double")
        / F.col("__n").cast("double")
    )
    term = F.round(
        2.0 * F.col("__o").cast("double") * F.log(
            F.col("__o").cast("double") / e
        ),
        6,
    )
    agg = staged.groupBy().agg(
        F.max("__n").alias("n"),
        F.max("__ka").alias("__ka"),
        F.max("__kb").alias("__kb"),
        F.sum(
            F.floor(term * 1e6 + 0.5).cast("decimal(38,0)")
        ).alias("__gq"),
    )
    return agg.select(
        "n",
        F.round(
            F.col("__gq").cast("double") / 1e6, round_dp
        ).alias("g_stat"),
        ((F.col("__ka") - 1) * (F.col("__kb") - 1)).cast("int").alias(
            "dof"
        ),
    )


def _require_integer_valued(df: DataFrame, col: Column, what: str) -> None:
    """Shared guard for the integer-grid contract (the
    ``wilcoxon_signed_rank`` discipline): moment/rank statistics only
    accept integer-valued columns so their power/rank sums stay exact
    decimals; quantize fixed-grid metrics by scaling first (the caller
    owns the grid)."""
    dt = df.select(col.alias("__v")).schema["__v"].dataType
    ds = dt.simpleString()
    if ds not in ("tinyint", "smallint", "int", "bigint") and not (
        ds.startswith("decimal") and ds.endswith(",0)")
    ):
        raise ValueError(
            f"{what} type {ds} is not integer-valued; quantize "
            "fixed-grid values to integers first (the caller owns "
            "the grid)"
        )


def jarque_bera(
    df: DataFrame,
    group_col: str,
    value_col,
    round_dp: int = 6,
) -> DataFrame:
    """Per-group Jarque-Bera normality test (Jarque & Bera 1980) —
    the hypothesis-test companion of the ``a23_grouped_moments``
    profile: JB = n/6 * (g1^2 + g2^2/4) with g1 the population
    skewness and g2 the population EXCESS kurtosis, asymptotically
    chi-square with df=2 under normality, whose survival function is
    CLOSED FORM: p = exp(-JB/2) — no CDF approximation needed.

    Exactness: values must be integer-valued (grid contract,
    ``_require_integer_valued``); the 1st-4th power sums accumulate as
    decimal(38,0) (order-independent, identical across engines), the
    moment algebra runs in doubles with the SAME expression tree as
    the SQL oracle, and the one transcendental (exp) hides under the
    >=6dp output round (the BM25 ln/exp precedent).

    Scale shape: ONE hash aggregation over the corpus (map-side
    partials), k output rows. Output per group: ``(group, n,
    skewness, excess_kurtosis, jb_stat, p_value)`` — NULLs when the
    group variance is 0 or n < 2.
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    _require_integer_valued(df, v, "value")
    c = v.cast("decimal(18,0)")
    c2 = (c * c).cast("decimal(38,0)")
    agg = df.filter(v.isNotNull()).groupBy(
        F.col(group_col).alias(group_col)
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c).cast("double").alias("__s1"),
        F.sum(c2).cast("double").alias("__s2"),
        F.sum((c2 * c).cast("decimal(38,0)")).cast("double").alias("__s3"),
        F.sum((c2 * c2).cast("decimal(38,0)")).cast("double").alias("__s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("__s1") / n
    m2 = F.col("__s2") / n - mu * mu
    m3 = (
        F.col("__s3") / n
        - 3 * mu * (F.col("__s2") / n)
        + 2 * mu * mu * mu
    )
    m4 = (
        F.col("__s4") / n
        - 4 * mu * (F.col("__s3") / n)
        + 6 * mu * mu * (F.col("__s2") / n)
        - 3 * mu * mu * mu * mu
    )
    ok = (F.col("n") >= 2) & (m2 > 0)
    g1 = m3 / (F.sqrt(m2) * m2)
    g2 = m4 / (m2 * m2) - 3
    jb = n / 6.0 * (g1 * g1 + g2 * g2 / 4.0)
    return agg.select(
        group_col,
        F.col("n").cast("long").alias("n"),
        F.round(F.when(ok, g1), round_dp).alias("skewness"),
        F.round(F.when(ok, g2), round_dp).alias("excess_kurtosis"),
        F.round(F.when(ok, jb), round_dp).alias("jb_stat"),
        F.round(F.when(ok, F.exp(-jb / 2.0)), round_dp).alias("p_value"),
    )


def bartlett_test(
    df: DataFrame,
    group_col: str,
    value_col,
    round_dp: int = 6,
) -> DataFrame:
    """Bartlett's test for homogeneity of variances across k groups
    (Bartlett 1937) — the parametric, normality-assuming sibling of
    ``brown_forsythe`` (which is robust but less powerful when the
    data IS normal):

        T = [(N-k) ln(Sp^2) - sum (n_i - 1) ln(s_i^2)] / C
        C = 1 + (sum 1/(n_i-1) - 1/(N-k)) / (3 (k-1))

    with s_i^2 the SAMPLE group variances and Sp^2 their pooled
    average. T ~ chi-square(k-1) under the null; the statistic and
    df are emitted, not a p-value (no closed-form chi-square tail for
    data-dependent df — the ``a24_chi_square`` / ``cramers_v``
    convention).

    Exactness: integer-grid contract; per-group sums are exact
    decimals, s_i^2 = (n_i*S2 - S1^2)/(n_i*(n_i-1)) divides exact
    integers once; the k-row reduction quantizes each ln/reciprocal
    term to the 1e-9 grid before a decimal sum (order-free — the
    ``g_test`` recipe), and ln hides under the >=6dp output round.
    Groups with n_i < 2 or zero variance drop (k counts survivors).

    Scale shape: ONE corpus aggregation to k rows, then a k-row
    bounded reduction. Output one row: ``(k, n, t_stat, dof)`` —
    NULL T when k < 2.
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    _require_integer_valued(df, v, "value")
    c = v.cast("decimal(18,0)")
    c2 = (c * c).cast("decimal(38,0)")
    per = (
        df.filter(v.isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("__ni"),
            F.sum(c).alias("__s1"),
            F.sum(c2).alias("__s2"),
        )
    )
    ni = F.col("__ni").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    var_i = (ni * s2 - s1 * s1) / (ni * (ni - 1.0))
    staged = per.filter(F.col("__ni") >= 2).select(
        "__ni",
        var_i.alias("__var"),
    ).filter(F.col("__var") > 0)
    # F.floor on a DOUBLE returns LONG, which the (n_i-1)*var*1e9
    # terms overflow (~4e19 at sf0.01) — route through decimal so the
    # floor happens in decimal space; the double value itself is
    # identical to DuckDB's FLOOR(double)->HUGEINT path.
    q = lambda x: F.floor(  # noqa: E731
        (x * 1e9 + 0.5).cast("decimal(38,6)")
    ).cast("decimal(38,0)")
    agg = staged.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("__ni").alias("n"),
        F.sum(q((ni - 1.0) * F.col("__var"))).alias("__qss"),
        F.sum(q((ni - 1.0) * F.log("__var"))).alias("__qln"),
        F.sum(q(1.0 / (ni - 1.0))).alias("__qinv"),
    )
    kk = F.col("k").cast("double")
    nn = F.col("n").cast("double")
    pooled = (F.col("__qss").cast("double") / 1e9) / (nn - kk)
    num = (nn - kk) * F.log(pooled) - F.col("__qln").cast(
        "double"
    ) / 1e9
    corr = 1.0 + (
        F.col("__qinv").cast("double") / 1e9 - 1.0 / (nn - kk)
    ) / (3.0 * (kk - 1.0))
    ok = (F.col("k") >= 2) & (pooled > 0)
    return agg.select(
        F.col("k").cast("int").alias("k"),
        F.col("n").cast("long").alias("n"),
        F.round(F.when(ok, num / corr), round_dp).alias("t_stat"),
        (F.col("k") - 1).cast("int").alias("dof"),
    )


def cohens_d(
    df: DataFrame,
    group_col: str,
    value_col,
    group_a,
    group_b,
    round_dp: int = 6,
) -> DataFrame:
    """Cohen's d standardized mean difference with the Hedges' g
    small-sample correction (Hedges 1981) — the EFFECT-SIZE companion
    of ``welch_ttest`` (which answers "is there a difference", not
    "how big"): d = (mean_a - mean_b) / s_pooled with the
    (n-1)-weighted pooled SAMPLE standard deviation, g = J * d with
    J = 1 - 3/(4*df - 1) (the standard rational approximation of the
    exact gamma-ratio correction — deterministic algebra, identical
    both engines), and a normal-approximation 95% CI on d via
    SE = sqrt((n_a+n_b)/(n_a*n_b) + d^2/(2*df)).

    Exactness: integer-grid contract; one corpus aggregation to exact
    decimal sums per group (conditional aggregation, no join), every
    downstream op a deterministic double expression shared with the
    SQL oracle (sqrt is exactly rounded — no libm divergence).

    Output one row: ``(n_a, n_b, mean_a, mean_b, pooled_sd, d,
    hedges_g, ci_lo, ci_hi)`` — NULL d when either group has n < 2
    or the pooled variance is 0.
    """
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    _require_integer_valued(df, v, "value")
    g = F.col(group_col)
    c = v.cast("decimal(18,0)")
    c2 = (c * c).cast("decimal(38,0)")
    is_a, is_b = g == group_a, g == group_b
    agg = df.filter(v.isNotNull() & (is_a | is_b)).agg(
        F.count(F.when(is_a, F.lit(1))).alias("n_a"),
        F.count(F.when(is_b, F.lit(1))).alias("n_b"),
        F.sum(F.when(is_a, c)).cast("double").alias("__sa"),
        F.sum(F.when(is_b, c)).cast("double").alias("__sb"),
        F.sum(F.when(is_a, c2)).cast("double").alias("__qa"),
        F.sum(F.when(is_b, c2)).cast("double").alias("__qb"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma, mb = F.col("__sa") / na, F.col("__sb") / nb
    va = (na * F.col("__qa") - F.col("__sa") * F.col("__sa")) / (
        na * (na - 1.0)
    )
    vb = (nb * F.col("__qb") - F.col("__sb") * F.col("__sb")) / (
        nb * (nb - 1.0)
    )
    dof = na + nb - 2.0
    pooled = F.sqrt(((na - 1.0) * va + (nb - 1.0) * vb) / dof)
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (pooled > 0)
    d = (ma - mb) / pooled
    jj = 1.0 - 3.0 / (4.0 * dof - 1.0)
    se = F.sqrt((na + nb) / (na * nb) + d * d / (2.0 * dof))
    z975 = 1.959963984540054
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(ma, round_dp).alias("mean_a"),
        F.round(mb, round_dp).alias("mean_b"),
        F.round(F.when(ok, pooled), round_dp).alias("pooled_sd"),
        F.round(F.when(ok, d), round_dp).alias("d"),
        F.round(F.when(ok, jj * d), round_dp).alias("hedges_g"),
        F.round(F.when(ok, d - z975 * se), round_dp).alias("ci_lo"),
        F.round(F.when(ok, d + z975 * se), round_dp).alias("ci_hi"),
    )


def ad_two_sample_exact(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_dp: int = 9,
) -> DataFrame:
    """Two-sample Anderson-Darling statistic (Pettitt 1976; the k=2
    case of Scholz & Stephens 1987, right-continuous ECDF version
    without the midrank tie adjustment, summed over the pooled
    distinct-value grain excluding the last cell) — completing the
    ECDF-distance trio: KS takes the worst gap, CvM integrates the
    squared gap uniformly, AD re-weights it by 1/(B(N-B)) so the
    TAILS count, where distribution shifts hide from both:

        A^2 = (1/(n_a*n_b)) * sum_j l_j * D_j^2 / (B_j*(N-B_j))

    with l_j the pooled count at value j, B_j the cumulative pooled
    count, and D_j = n_b*cumA_j - n_a*cumB_j the SAME exact integer
    cross-product gap as the KS/CvM recipe (both samples' terms
    collapse onto D^2 algebraically, which is what makes the one-gap
    form exact). Under H0, E[A^2] = 1.

    Exactness and scale shape are the ``cvm_two_sample_exact``
    contract verbatim: running counts via ``global_prefix_sums``
    (the grain may be corpus-sized), D as an exactly-representable
    double of an exact integer, each cell's term quantized to the
    1e-9 grid before an order-free decimal sum.

    Output one row: ``(n_a, n_b, a2_stat)`` — NULL when either
    group is empty.
    """
    from icnarc_to_philips_linkage_spark.operators.scale import (
        global_prefix_sums,
    )

    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    ).select(
        (F.col(group_col) == group_a).alias("__is_a"),
        F.col(value_col),
    )
    counts = base.groupBy(value_col).agg(
        F.count(F.when(F.col("__is_a"), F.lit(1))).alias("__ca"),
        F.count(F.when(~F.col("__is_a"), F.lit(1))).alias("__cb"),
    )
    staged, totals = global_prefix_sums(
        counts, [value_col], ["__ca", "__cb"]
    )
    na, nb = totals["__ca"], totals["__cb"]
    if na == 0 or nb == 0:
        sess = df.sparkSession
        return sess.createDataFrame(
            [(na, nb, None)],
            "n_a long, n_b long, a2_stat double",
        )
    nn = float(na + nb)
    gap = (
        F.col("cum___ca").cast("double") * float(nb)
        - F.col("cum___cb").cast("double") * float(na)
    )
    bj = (F.col("cum___ca") + F.col("cum___cb")).cast("double")
    lj = (F.col("__ca") + F.col("__cb")).cast("double")
    term = lj * gap * gap / (bj * (nn - bj))
    term_q = F.floor(term / (float(na) * float(nb)) * 1e9 + 0.5).cast(
        "decimal(38,0)"
    )
    agg = staged.filter(
        (F.col("cum___ca") + F.col("cum___cb")) < (na + nb)
    ).agg(F.sum(term_q).alias("__qsum"))
    return agg.select(
        F.lit(na).cast("long").alias("n_a"),
        F.lit(nb).cast("long").alias("n_b"),
        F.round(
            F.col("__qsum").cast("double") / 1e9, round_dp
        ).alias("a2_stat"),
    )


def ansari_bradley(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_dp: int = 6,
) -> DataFrame:
    """Ansari-Bradley two-sample SCALE test (Ansari & Bradley 1960)
    — the dispersion alternative beside the location family
    (``mann_whitney`` shifts, ``mood_median`` medians): score each
    pooled rank from BOTH ends, a(i) = min(i, N+1-i), so a sample
    concentrated in the middle scores HIGH and one spread into the
    tails scores LOW; AB = sum of sample A's (midrank-tied) scores,

        z = (AB - m*TS/N) / sqrt(m*n*(SSq - TS^2/N) / (N*(N-1)))

    the exact conditional null moments GIVEN the tie pattern (TS =
    sum of all scores, SSq = sum of squared midrank scores).

    Exactness: the pooled distinct-value grain with running counts
    via ``global_prefix_sums`` (the KS/CvM recipe); each cell's rank
    interval (lo, hi] has CLOSED-FORM integer score sums — with
    c = floor((N+1)/2) and T(x) = x(x+1)/2 (exact long halving via
    shiftright; ranks are bounded by N so x(x+1) fits a long to
    N ~ 3e9), S = [T(min(hi,c)) - T(min(lo,c))] + [(N+1)*(hi - g) -
    (T(hi) - T(g))] for g = max(lo,c) when hi > c. Tied cells share
    the midrank score S/l, so the AB and SSq contributions are
    ca*S/l and S*S/l — quantized to the 1e-9 grid before order-free
    decimal sums; TS rides exactly as an integer.

    Output one row: ``(n_a, n_b, ab_stat, z, p_value)`` — NULL z
    when either group is empty or the variance is 0 (all values
    tied). Two-sided p via the shared A&S normal tail.
    """
    from icnarc_to_philips_linkage_spark.operators.evaluation import (
        normal_sf_approx,
    )
    from icnarc_to_philips_linkage_spark.operators.scale import (
        global_prefix_sums,
    )

    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    ).select(
        (F.col(group_col) == group_a).alias("__is_a"),
        F.col(value_col),
    )
    counts = base.groupBy(value_col).agg(
        F.count(F.when(F.col("__is_a"), F.lit(1))).alias("__ca"),
        F.count(F.when(~F.col("__is_a"), F.lit(1))).alias("__cb"),
    )
    staged, totals = global_prefix_sums(
        counts, [value_col], ["__ca", "__cb"]
    )
    na, nb = totals["__ca"], totals["__cb"]
    sess = df.sparkSession
    if na == 0 or nb == 0:
        return sess.createDataFrame(
            [(na, nb, None, None, None)],
            "n_a long, n_b long, ab_stat double, z double, "
            "p_value double",
        )
    nn = na + nb
    c = (nn + 1) // 2

    def tri(x):
        return F.shiftright(x * (x + 1), 1)

    hi = (F.col("cum___ca") + F.col("cum___cb")).cast("long")
    lj = (F.col("__ca") + F.col("__cb")).cast("long")
    lo = hi - lj
    part1 = tri(F.least(hi, F.lit(c))) - tri(F.least(lo, F.lit(c)))
    g = F.greatest(lo, F.lit(c))
    part2 = F.when(
        hi > c,
        F.lit(nn + 1) * (hi - g) - (tri(hi) - tri(g)),
    ).otherwise(F.lit(0))
    s = (part1 + part2).cast("double")
    ld = lj.cast("double")
    q = lambda x: F.floor(  # noqa: E731
        (x * 1e9 + 0.5).cast("decimal(38,6)")
    ).cast("decimal(38,0)")
    agg = staged.agg(
        F.sum(q(F.col("__ca").cast("double") * s / ld)).alias("__qab"),
        F.sum(q(s * s / ld)).alias("__qss"),
    )
    m, n_, nd = float(na), float(nb), float(nn)
    # TS = sum of all scores is a pure integer function of N:
    # N even -> N(N+2)/4, N odd -> (N+1)^2/4
    ts = (
        nn * (nn + 2) // 4 if nn % 2 == 0 else (nn + 1) * (nn + 1) // 4
    )
    ab = F.col("__qab").cast("double") / 1e9
    ssq = F.col("__qss").cast("double") / 1e9
    mean = m * float(ts) / nd
    var = m * n_ * (ssq - float(ts) * float(ts) / nd) / (
        nd * (nd - 1.0)
    )
    zz = F.when(var > 0, (ab - mean) / F.sqrt(var))
    return agg.select(
        F.lit(na).cast("long").alias("n_a"),
        F.lit(nb).cast("long").alias("n_b"),
        F.round(ab, round_dp).alias("ab_stat"),
        F.round(zz, round_dp).alias("z"),
        F.round(
            F.lit(2.0) * normal_sf_approx(F.abs(zz)), round_dp
        ).alias("p_value"),
    )


def lepage_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_dp: int = 6,
) -> DataFrame:
    """Lepage two-sample JOINT location-scale test (Lepage 1971):
    L = z_W^2 + z_AB^2 — the standardized Wilcoxon rank-sum
    (location) plus the standardized Ansari-Bradley (scale),
    asymptotically chi-square(2) under H0, whose tail is CLOSED
    FORM: p = exp(-L/2). Catches the alternative both parents miss
    alone (a shift AND a spread change partially masking each
    other).

    ONE pass over the shared pooled-value grid computes both
    components: doubled midranks r2 = 2B - l + 1 give the exact
    W rank-sum and tie term (the ``mann_whitney_u`` algebra
    verbatim), the closed-form triangular score sums give AB and
    its conditional moments (the ``ansari_bradley`` algebra
    verbatim) — same exactness, same ``global_prefix_sums`` scale
    shape, one extra aggregation column each.

    Output one row: ``(n_a, n_b, z_w, z_ab, l_stat, p_value)`` —
    NULLs when either group is empty or either variance is 0.
    """
    from icnarc_to_philips_linkage_spark.operators.scale import (
        global_prefix_sums,
    )

    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    ).select(
        (F.col(group_col) == group_a).alias("__is_a"),
        F.col(value_col),
    )
    counts = base.groupBy(value_col).agg(
        F.count(F.when(F.col("__is_a"), F.lit(1))).alias("__ca"),
        F.count(F.when(~F.col("__is_a"), F.lit(1))).alias("__cb"),
    )
    staged, totals = global_prefix_sums(
        counts, [value_col], ["__ca", "__cb"]
    )
    na, nb = totals["__ca"], totals["__cb"]
    sess = df.sparkSession
    if na == 0 or nb == 0:
        return sess.createDataFrame(
            [(na, nb, None, None, None, None)],
            "n_a long, n_b long, z_w double, z_ab double, "
            "l_stat double, p_value double",
        )
    nn = na + nb
    c = (nn + 1) // 2

    def tri(x):
        return F.shiftright(x * (x + 1), 1)

    hi = (F.col("cum___ca") + F.col("cum___cb")).cast("long")
    lj = (F.col("__ca") + F.col("__cb")).cast("long")
    lo = hi - lj
    part1 = tri(F.least(hi, F.lit(c))) - tri(F.least(lo, F.lit(c)))
    g = F.greatest(lo, F.lit(c))
    part2 = F.when(
        hi > c,
        F.lit(nn + 1) * (hi - g) - (tri(hi) - tri(g)),
    ).otherwise(F.lit(0))
    s = (part1 + part2).cast("double")
    ld = lj.cast("double")
    q = lambda x: F.floor(  # noqa: E731
        (x * 1e9 + 0.5).cast("decimal(38,6)")
    ).cast("decimal(38,0)")
    r2 = (2 * hi - lj + 1).cast("decimal(38,0)")
    cdec = lj.cast("decimal(38,0)")
    agg = staged.agg(
        F.sum(
            (F.col("__ca").cast("decimal(38,0)") * r2).cast(
                "decimal(38,0)"
            )
        )
        .cast("double")
        .alias("__r2a"),
        F.sum((cdec * cdec * cdec - cdec).cast("decimal(38,0)"))
        .cast("double")
        .alias("__ties"),
        F.sum(q(F.col("__ca").cast("double") * s / ld)).alias("__qab"),
        F.sum(q(s * s / ld)).alias("__qss"),
    )
    m, n_, nd = float(na), float(nb), float(nn)
    u2 = F.col("__r2a") - m * (m + 1)
    mu2 = m * n_
    var_w = (m * n_ / 12.0) * (
        (nd + 1) - F.col("__ties") / (nd * (nd - 1))
    )
    z_w = (u2 - mu2) / (2.0 * F.sqrt(var_w))
    ts = (
        nn * (nn + 2) // 4 if nn % 2 == 0 else (nn + 1) * (nn + 1) // 4
    )
    ab = F.col("__qab").cast("double") / 1e9
    ssq = F.col("__qss").cast("double") / 1e9
    mean_ab = m * float(ts) / nd
    var_ab = m * n_ * (ssq - float(ts) * float(ts) / nd) / (
        nd * (nd - 1.0)
    )
    z_ab = (ab - mean_ab) / F.sqrt(var_ab)
    ok = (var_w > 0) & (var_ab > 0)
    l_stat = z_w * z_w + z_ab * z_ab
    return agg.select(
        F.lit(na).cast("long").alias("n_a"),
        F.lit(nb).cast("long").alias("n_b"),
        F.round(F.when(ok, z_w), round_dp).alias("z_w"),
        F.round(F.when(ok, z_ab), round_dp).alias("z_ab"),
        F.round(F.when(ok, l_stat), round_dp).alias("l_stat"),
        F.round(
            F.when(ok, F.exp(-l_stat / 2.0)), round_dp
        ).alias("p_value"),
    )


def cucconi_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    round_dp: int = 6,
) -> DataFrame:
    """Cucconi two-sample location-scale test (Cucconi 1968) — the
    older, squared-ranks route to the same joint alternative as
    ``lepage_test``, with its own CLOSED-FORM tail p = exp(-C):

        U = (6 sum R_B^2 - n(N+1)(2N+1)) / D
        V = (6 sum (N+1-R_B)^2 - n(N+1)(2N+1)) / D
        D = sqrt(m n (N+1)(2N+1)(8N+11) / 5)
        C = (U^2 + V^2 - 2 rho U V) / (2 (1 - rho^2)),
        rho = 2(N^2-4)/((2N+1)(8N+11)) - 1

    Midrank ties: R = r2/2 keeps sum R_B^2 = (sum cb*r2^2)/4 an
    exact quarter-integer, and the antirank square sum derives
    algebraically — sum(N+1-R)^2 = ((2(N+1))^2 n - 4(N+1) sum
    cb*r2 + sum cb*r2^2)/4 — off the SAME two exact decimal sums;
    the null moments are literal functions of (m, n, N).

    Same one-aggregation + ``global_prefix_sums`` scale shape as
    the rest of the rank family. Output one row: ``(n_a, n_b, u, v,
    c_stat, p_value)`` — NULLs when either group is empty or N < 3
    (the correlation is undefined).
    """
    from icnarc_to_philips_linkage_spark.operators.scale import (
        global_prefix_sums,
    )

    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([group_a, group_b])
    ).select(
        (F.col(group_col) == group_a).alias("__is_a"),
        F.col(value_col),
    )
    counts = base.groupBy(value_col).agg(
        F.count(F.when(F.col("__is_a"), F.lit(1))).alias("__ca"),
        F.count(F.when(~F.col("__is_a"), F.lit(1))).alias("__cb"),
    )
    staged, totals = global_prefix_sums(
        counts, [value_col], ["__ca", "__cb"]
    )
    na, nb = totals["__ca"], totals["__cb"]
    sess = df.sparkSession
    if na == 0 or nb == 0 or na + nb < 3:
        return sess.createDataFrame(
            [(na, nb, None, None, None, None)],
            "n_a long, n_b long, u double, v double, "
            "c_stat double, p_value double",
        )
    hi = (F.col("cum___ca") + F.col("cum___cb")).cast("long")
    lj = (F.col("__ca") + F.col("__cb")).cast("long")
    r2 = (2 * hi - lj + 1).cast("decimal(38,0)")
    cb = F.col("__cb").cast("decimal(38,0)")
    agg = staged.agg(
        F.sum((cb * r2).cast("decimal(38,0)"))
        .cast("double")
        .alias("__s1b"),
        F.sum((cb * (r2 * r2).cast("decimal(38,0)")).cast(
            "decimal(38,0)"
        ))
        .cast("double")
        .alias("__s2b"),
    )
    import math

    m, n_, nd = float(na), float(nb), float(na + nb)
    srb = F.col("__s2b") / 4.0
    srtb = (
        (2.0 * (nd + 1.0)) * (2.0 * (nd + 1.0)) * n_
        - 4.0 * (nd + 1.0) * F.col("__s1b")
        + F.col("__s2b")
    ) / 4.0
    den = math.sqrt(
        m * n_ * (nd + 1.0) * (2.0 * nd + 1.0) * (8.0 * nd + 11.0)
        / 5.0
    )
    mu = n_ * (nd + 1.0) * (2.0 * nd + 1.0)
    u = (6.0 * srb - mu) / den
    v = (6.0 * srtb - mu) / den
    rho = 2.0 * (nd * nd - 4.0) / (
        (2.0 * nd + 1.0) * (8.0 * nd + 11.0)
    ) - 1.0
    c_stat = (u * u + v * v - 2.0 * rho * u * v) / (
        2.0 * (1.0 - rho * rho)
    )
    return agg.select(
        F.lit(na).cast("long").alias("n_a"),
        F.lit(nb).cast("long").alias("n_b"),
        F.round(u, round_dp).alias("u"),
        F.round(v, round_dp).alias("v"),
        F.round(c_stat, round_dp).alias("c_stat"),
        F.round(F.exp(-c_stat), round_dp).alias("p_value"),
    )
