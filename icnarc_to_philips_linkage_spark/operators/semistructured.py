"""Semi-structured (JSON) column operators.

The reference's EAV fact tables carry typed values in parallel columns
(variable_location_in_ICCA.sql:67); modern event streams carry the same
"schema decided per row" payloads as JSON strings. These operators give
the engine a first-class path from a JSON string column to typed,
Catalyst-visible columns — all with native expressions (`from_json`,
`get_json_object`), never Python-side parsing, so extraction stays
inside whole-stage codegen and the downstream filters/aggregates are
ordinary pushdown-able column ops.

Scale notes:
- `from_json` with an explicit schema is a single projection — no
  shuffle, no UDF. At 100 TB the cost is the string parse itself,
  fused into the scan stage by codegen.
- Extracting BEFORE aggregating (rather than carrying the raw JSON
  through a shuffle) keeps shuffle rows narrow; `json_stats` below
  groups on the extracted value, so the JSON string never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def extract_json_fields(
    df: DataFrame,
    json_col: str,
    fields: dict[str, tuple[str, str]],
) -> DataFrame:
    """Project typed columns out of a JSON string column.

    ``fields`` maps output column name -> (JSON path, spark type), e.g.
    ``{"k": ("$.k", "int")}``. Uses ``get_json_object`` + cast: the
    cast returns NULL on malformed / missing values (the engine's
    standard lossy-coercion semantics, SURVEY §2.8 E11), so corrupt
    payloads degrade to NULLs instead of failing the job.
    """
    cols: list[Column] = [F.col(c) for c in df.columns]
    for out_name, (path, typ) in fields.items():
        cols.append(F.get_json_object(F.col(json_col), path).cast(typ).alias(out_name))
    return df.select(*cols)


def json_stats(
    df: DataFrame,
    json_col: str,
    path: str,
    group_col: str,
    out_name: str = "payload_value",
) -> DataFrame:
    """Extract a numeric JSON field and aggregate it per group in one
    plan: count / non-null count / sum / avg / min / max. The JSON
    string is consumed map-side; only (group, value) reaches the
    exchange."""
    val = F.get_json_object(F.col(json_col), path).cast("double")
    narrow = df.select(F.col(group_col), val.alias(out_name))
    return narrow.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(out_name).alias("n_with_value"),
        F.round(F.sum(out_name), 6).alias("value_sum"),
        F.round(F.avg(out_name), 6).alias("value_avg"),
        F.min(out_name).alias("value_min"),
        F.max(out_name).alias("value_max"),
    )
