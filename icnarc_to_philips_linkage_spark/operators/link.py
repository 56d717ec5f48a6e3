"""Linkage joins — the reference pipeline's core (SURVEY.md §2.3
J2-J6).

All equi-joins. Scale behavior: the two record-level joins (J2, J3)
shuffle on their keys (AQE picks broadcast when one side fits); the
dimension decorations (J5) and cohort restrictions (J4) broadcast the
small side explicitly so the fact table never shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_icnarc_to_philips(
    icnarc_ids: DataFrame, philips: DataFrame
) -> DataFrame:
    """J2: the core linkage — inner equi-join on the cleaned link key
    (clean_encounterids.py:86-95). The ICNARC side's key column is the
    cleaned ``CIS Patient ID``; the Philips side joins on
    ``encounterId``. Helper columns dropped afterwards (P2)."""
    left = icnarc_ids.withColumn(
        "encounterId", F.col("`CIS Patient ID`").cast("long")
    )
    out = left.join(philips, on="encounterId", how="inner")
    drop = [c for c in ("CIS Patient ID", "Key") if c in out.columns]
    return out.drop(*drop)


def link_wide_cmp(
    icustays: DataFrame, icnarc_wide: DataFrame
) -> DataFrame:
    """J3: attach the wide CMP table on the composite key
    (['ICNARC number', 'Unit ID'], notebook cell 16)."""
    return icustays.join(
        icnarc_wide, on=["ICNARC number", "Unit ID"], how="inner"
    )


def cohort_restrict(
    events: DataFrame,
    cohort: DataFrame,
    key: str = "encounterId",
    mode: str = "semi",
    broadcast_cohort: bool = True,
) -> DataFrame:
    """J4: restrict an event stream to a cohort.

    ``mode='semi'`` (engine default): left-semi join — keeps event rows
    whose key is in the cohort; no row duplication, no null rows; the
    cohort side reduces to its distinct keys and broadcasts.

    ``mode='right'`` (strict parity with notebook cell 49): pandas
    ``how='right'`` also emits an all-null event row for cohort members
    with zero events — reproduced exactly.

    ``broadcast_cohort=False`` drops the broadcast hint for cohorts too
    large for executor memory — the join becomes a shuffle semi join
    (AQE still promotes it back to broadcast if the distinct key set
    turns out small at runtime)."""
    keys = cohort.select(key).distinct()
    if broadcast_cohort:
        keys = F.broadcast(keys)
    if mode == "semi":
        return events.join(keys, on=key, how="left_semi")
    if mode == "right":
        return events.join(keys, on=key, how="right")
    raise ValueError(f"mode must be 'semi' or 'right', got {mode!r}")


def decorate_events(
    events: DataFrame,
    interventions: DataFrame,
    on: Sequence[str] = ("interventionId", "attributeId"),
) -> DataFrame:
    """J5: decorate EAV events with harmonised variable names — broadcast
    left join on the composite (interventionId, attributeId) key
    (cell 54). Composite key is essential: attributeId 16240 ('Value')
    recurs across interventions (FIXTURES.md §6)."""
    return events.join(F.broadcast(interventions), on=list(on), how="left")
