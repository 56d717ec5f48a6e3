"""Dedup-merge of record fragments (SURVEY.md §2.4 A1/A2, §2.5 W2, A11/A12).

The reference merges duplicate encounter fragments with a per-column
policy dict (``clean_encounterids.py:129-198``): min/max/sum/count plus
pandas ``first``/``last``/``list`` — whose results depend on the file's
physical row order. In a distributed engine that order does not exist, so
the engine makes order *explicit*: ``first``/``last`` take the value at
the min/max of a declared ordering column (``min_by``/``max_by``, one
shuffle, no window), and ``list`` is collected then sorted.

This is one hash-aggregation: map-side partial aggregation runs before
the shuffle, so at 100 TB the shuffle carries one partial row per
(partition, key), not the raw fragments.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import ts_micros


def _policy_expr(col: str, policy: str, order_col: str, alias: str) -> Column:
    p = policy.lower()
    if p == "min":
        e = F.min(col)
    elif p == "max":
        e = F.max(col)
    elif p == "sum":
        e = F.sum(col)
    elif p == "count":
        e = F.count(col)
    elif p == "first":
        # deterministic pandas-'first': value at the earliest order_col
        e = F.min_by(col, F.struct(F.col(order_col), F.col(col)))
    elif p == "last":
        e = F.max_by(col, F.struct(F.col(order_col), F.col(col)))
    elif p == "list":
        e = F.sort_array(F.collect_list(col))
    elif p == "first_non_na":
        # custom _get_err aggregate (clean_encounterids.py:122-127):
        # first value != 'NA', else 'NA'
        e = F.coalesce(
            F.min(F.when(F.col(col) != "NA", F.col(col))), F.lit("NA")
        )
    elif p == "mean":
        e = F.avg(col)
    elif p == "count_distinct":
        e = F.countDistinct(col)
    else:
        raise ValueError(f"unknown dedup policy {policy!r} for column {col!r}")
    return e.alias(alias)


def dedup_merge(
    df: DataFrame,
    keys: Sequence[str],
    policies: Mapping[str, str | Sequence[str]],
    order_col: str,
) -> DataFrame:
    """Collapse duplicate-key fragments into one row per key.

    ``policies`` maps column → policy (or list of policies; multiple
    outputs get ``{col}_{policy}`` names, single outputs keep the bare
    column name, mirroring the reference's flattened MultiIndex names).

    ``order_col`` pins the semantics of first/last: the reference's
    implicit file order becomes an explicit timestamp ordering
    (SURVEY §7 'deterministic first/last').
    """
    aggs: list[Column] = []
    for col, pol in policies.items():
        if col in keys:  # the key identifies the group; no agg needed
            continue
        pols = [pol] if isinstance(pol, str) else list(pol)
        for p in pols:
            alias = col if len(pols) == 1 else f"{col}_{p}"
            aggs.append(_policy_expr(col, p, order_col, alias))
    return df.groupBy(*keys).agg(*aggs)


def duplicate_groups(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keys occurring more than once, with their multiplicity (A12,
    ``view_non_unique_ids`` at clean_encounterids.py:111-118)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def uniqueness_check(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """A11: one row, ``n_rows`` / ``n_keys`` / ``is_unique`` — the engine
    form of the notebook's ``is_unique`` assert (cell 10)."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(*[F.col(k) for k in keys]).alias("n_keys"),
    ).select(
        "n_rows",
        "n_keys",
        (F.col("n_rows") == F.col("n_keys")).alias("is_unique"),
    )


def combine_non_unique_philips_encounters(
    df: DataFrame, mode: str = "concat"
) -> DataFrame:
    """A1: merge Philips stay *fragments* sharing a corrected encounterId
    (clean_encounterids.py:129-158): earliest inTime, latest outTime,
    summed LOS, min age; fragment provenance kept as counts + sorted
    lists in 'concat' mode. pandas' order-dependent first/last/``list``
    become inTime-ordered min_by/max_by and sorted collect_list."""
    policies = {
        "ptCensusId": ["count", "list"] if mode == "concat" else "first",
        "age": "min",
        "inTime": "min",
        "outTime": "max",
        "tNumber": "first",
        "encounterId_original": ["count", "list"] if mode == "concat" else "first",
        "lengthOfStay (mins)": "sum",
        "gender": "last" if mode == "concat" else "first",
        "error_type": "first_non_na",
    }
    policies = {k: v for k, v in policies.items() if k in df.columns}
    return dedup_merge(df, ["encounterId"], policies, order_col="inTime")


def combine_non_unique_encounters(df: DataFrame, mode: str = "concat") -> DataFrame:
    """A2: the post-linkage merge keyed on the ICNARC-side link key
    (clean_encounterids.py:160-198), adding the ICNARC columns."""
    policies = {
        "encounterId": ["count", "list"] if mode == "concat" else "first",
        "Unit ID": "min",
        "ICNARC number": ["count", "list"] if mode == "concat" else "first",
        "CIS Patient ID Original": "first",
        "CIS Episode ID": ["count", "list"] if mode == "concat" else "first",
        "Readmission during this hospital stay": "first",
        "age": "min",
        "inTime": "min",
        "outTime": "max",
        "lengthOfStay (mins)": "sum",
        "gender": "last" if mode == "concat" else "first",
        "error_type": "first_non_na",
    }
    policies = {k: v for k, v in policies.items() if k in df.columns}
    return dedup_merge(
        df, ["CIS Patient ID Original"], policies, order_col="inTime"
    )


def debounce(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    gap: str = "5 seconds",
    tiebreak: str | None = None,
) -> DataFrame:
    """Event debounce: within each key, drop events that arrive within
    ``gap`` of the previously KEPT event — duplicate-suppression for
    at-least-once event feeds (double-clicks, sensor re-sends, retry
    storms).

    Exact debounce is inherently sequential per key; the practical
    distributed variant implemented here (the standard one) drops rows
    within ``gap`` of the previous RAW event — one lag() window pass,
    single shuffle on the key. The two differ only when 3+ events chain
    inside one gap; for duplicate-suppression that difference is noise.
    ``tiebreak`` pins a total order under equal timestamps.
    """
    units = {
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
    }
    try:
        n, unit = gap.split()
        us = int(n) * units[unit.rstrip("s")]
    except (ValueError, KeyError):
        raise ValueError(
            f"gap must look like '<n> {'|'.join(units)}[s]', got {gap!r}"
        ) from None
    from pyspark.sql import Window

    order = [F.col(ts_col)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    prev = F.lag(ts_micros(ts_col)).over(w)
    return (
        df.withColumn("__prev", prev)
        .filter(
            F.col("__prev").isNull()
            | (ts_micros(ts_col) - F.col("__prev") > F.lit(us))
        )
        .drop("__prev")
    )
