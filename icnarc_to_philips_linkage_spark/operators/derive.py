"""Derived-variable stage (SURVEY.md §2.8 E3-E9, J9) — the notebook's
cells 19-27 as one lazy projection pass.

Everything here is a Catalyst column expression over the wide linked
table; no shuffles, fully codegen'd, so at 100 TB this stage is pure
map work pipelined into whatever scan precedes it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icnarc_to_philips_linkage_spark.functions.expressions import (
    age_years,
    coalesce_cascade,
    combine_date_time,
    decode_map,
    duration_minutes,
    numeric_coerce,
)

# parse_ICNARC_xml.py:66-72 — ICNARC CMP unit code → Unit ID
UNIT_CODE_MAP = {"H91": 1, "B16": 14}

# The six Date/Time column pairs combined at notebook cell 19
DATETIME_PAIRS = (
    "Date of admission to your unit",
    "Date of discharge from your unit",
    "Date when fully ready to discharge",
    "Date of death",
    "Date of declaration of brainstem death",
    "Date body removed from your unit",
)


def combine_date_time_columns(
    df: DataFrame,
    date_cols: Sequence[str] = DATETIME_PAIRS,
    drop_originals: bool = True,
) -> DataFrame:
    """E5: for each ``Date X`` column with its sibling ``Time X``,
    produce ``Datetime X`` (clean_encounterids.py:248-258). Column
    naming mirrors the reference's regexp rename Date→Datetime."""
    out = df
    for d in date_cols:
        t = d.replace("Date", "Time", 1)
        if d not in df.columns or t not in df.columns:
            continue
        new = d.replace("Date", "Datetime", 1)
        out = out.withColumn(new, combine_date_time(F.col(f"`{d}`"), F.col(f"`{t}`")))
        if drop_originals:
            out = out.drop(d, t)
    return out


def _coalesce_present(df: DataFrame, cols: Sequence[str], dtype: str):
    """Cascading coalesce over the ``cols`` the table carries. The XML
    ingest prunes CMP codes no record holds (an export with no death in
    the unit has no body-removed columns), so a missing source is all
    NULL; with none present the result is a NULL of ``dtype``."""
    present = [f"`{c}`" for c in cols if c in df.columns]
    if not present:
        return F.lit(None).cast(dtype)
    return coalesce_cascade(*present)


def derive_icnarc_outtime(df: DataFrame) -> DataFrame:
    """E3: unit out-time = discharge datetime, else body-removed datetime
    (clean_encounterids.py:260-272). The null-residual *warning* becomes
    a queryable column; callers can assert count_if(isNull) == 0."""
    return df.withColumn(
        "icnarc_outTime",
        _coalesce_present(
            df,
            (
                "Datetime of discharge from your unit",
                "Datetime body removed from your unit",
            ),
            "timestamp",
        ),
    )


def derive_mortality(df: DataFrame) -> DataFrame:
    """E4: in-hospital mortality status — 3-way cascading coalesce over
    the discharge-status columns (clean_encounterids.py:274-291).

    The reference's row loop *crashes* when all three are null (column
    length mismatch); the engine yields NULL — the crash is not a
    computable behavior, so there is no strict_parity variant
    (SURVEY §7)."""
    return df.withColumn(
        "mortality_status",
        _coalesce_present(
            df,
            (
                "Status at ultimate discharge from hospital",
                "Status at discharge from your hospital",
                "Status at discharge from your unit",
            ),
            "string",
        ),
    )


def derive_outcomes(df: DataFrame, strict_parity_sex: bool = True) -> DataFrame:
    """E6/E7/E8/E9: age (365.25-day years), ICNARC LOS in minutes, sex
    recode, BMI — notebook cell 21 in one projection.

    Sex recode: the reference maps 'F'→Female else Male, which sends
    NULL to 'Male' (flagged data-quality issue). ``strict_parity_sex``
    keeps that; False maps NULL→NULL."""
    sex = F.when(F.col("Sex") == "F", F.lit("Female"))
    if strict_parity_sex:
        sex = sex.otherwise(F.lit("Male"))
    else:
        sex = sex.when(F.col("Sex").isNotNull(), F.lit("Male"))
    admit = F.col("`Datetime of admission to your unit`")
    return (
        df.withColumn(
            "icnarc_age",
            age_years(admit, F.to_timestamp(F.col("`Date of Birth`"))),
        )
        .withColumn(
            "icnarc_los",
            duration_minutes(F.col("icnarc_outTime"), admit),
        )
        .withColumn("icnarc_gender", sex)
        .withColumn(
            "bmi",
            numeric_coerce(F.col("`Weight in kg`"))
            / F.pow(numeric_coerce(F.col("`Height in cm`")) / 100.0, 2),
        )
    )


def convert_unit_numbers(df: DataFrame) -> DataFrame:
    """J9+E16: ICNARC CMP unit code → integer Unit ID
    (parse_ICNARC_xml.py:66-75): decode map, cast ids, drop the code
    column."""
    out = df.withColumn(
        "Unit ID", decode_map("`ICNARC CMP Number`", UNIT_CODE_MAP)
    )
    if "ICNARC Number" in out.columns:
        # rename-then-cast: Spark resolves column names case-insensitively,
        # so withColumn('ICNARC number', ...) would *replace* 'ICNARC Number'
        # under its old spelling instead of adding the new one
        out = out.withColumnRenamed("ICNARC Number", "ICNARC number")
        out = out.withColumn(
            "ICNARC number", F.col("`ICNARC number`").cast("long")
        )
    return out.drop("ICNARC CMP Number")
