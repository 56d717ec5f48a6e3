"""Source readers (SURVEY.md §2.1 S3-S5, S7).

- CSV / TSV scans are native Spark scans (splittable, predicate/column
  pushdown where the format allows).
- The ``.rpt`` TSV export carries a non-data footer the reference asks
  users to "delete manually" (clean_encounterids.py:17-19); the engine
  replaces that with a parse-guard filter — distributed-safe, since
  "last five lines of the file" is not a well-defined concept across
  splits.
- Excel dimensions are driver-side reads (they are ≤ a few hundred rows
  by construction — issue lists, interventions key) materialized into
  broadcast-sized DataFrames.
- JDBC extraction (the T-SQL star-schema queries of
  variable_location_in_ICCA.sql) maps to ``spark.read.jdbc`` with
  pushed-down predicates.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


def _parse_dates(df: DataFrame, date_cols: Sequence[str] | None) -> DataFrame:
    for c in date_cols or ():
        if c in df.columns:
            df = df.withColumn(c, F.to_timestamp(F.col(f"`{c}`")))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    date_cols: Sequence[str] | None = None,
) -> DataFrame:
    """S4: CSV scan (ICNARC numbers file, clean_encounterids.py:36)."""
    reader = spark.read.option("header", True)
    reader = reader.schema(schema) if schema else reader.option("inferSchema", True)
    return _parse_dates(reader.csv(path), date_cols)


def read_tsv_report(
    spark: SparkSession,
    path: str,
    key_col: str,
    schema: StructType | None = None,
    date_cols: Sequence[str] | None = None,
) -> DataFrame:
    """S5: tab-separated ``.rpt`` extract with footer guard. Rows whose
    key column doesn't parse as an integer (the '(N rows affected)'
    trailer and blank lines) are dropped by predicate instead of manual
    editing — same effect, works on any split of the file."""
    reader = spark.read.option("header", True).option("sep", "\t")
    reader = reader.schema(schema) if schema else reader.option("inferSchema", False)
    df = reader.csv(path)
    guarded = df.filter(F.col(f"`{key_col}`").cast("long").isNotNull())
    return _parse_dates(guarded, date_cols)


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType,
    sep: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """Schema-enforced CSV scan that QUARANTINES malformed rows instead
    of silently nulling or crashing on them — the distributed answer to
    the reference's 'delete the bad lines by hand' guidance
    (clean_encounterids.py:17-19) generalized beyond footers.

    Returns (clean_rows, quarantined_rows): PERMISSIVE mode captures
    each unparseable line verbatim in ``_corrupt_record``; the split is
    two filters over one scan. At 100 TB the quarantine table is what an
    operator inspects; the pipeline never stops for one bad line."""
    full_schema = StructType(
        schema.fields + [StructField("_corrupt_record", StringType(), True)]
    )
    df = (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(full_schema)
        .csv(path)
        .cache()  # one scan serves both splits (required: corrupt-record
        #           capture is only populated on the parsing pass)
    )
    clean = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantined = df.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return clean, quarantined


def read_excel_dim(
    spark: SparkSession, path: str, sheet: str | int = 0
) -> DataFrame:
    """S3: Excel dimension scan (issue lists, interventions key, CMP
    properties). Driver-side pandas/openpyxl read → createDataFrame:
    these dims are broadcast-sized by construction (≤ hundreds of rows),
    so a distributed scan would be pure overhead. Requires openpyxl;
    raises a clear error when absent."""
    try:
        import pandas as pd
    except ImportError as e:  # pragma: no cover
        raise ImportError("read_excel_dim requires pandas") from e
    try:
        pdf = pd.read_excel(path, sheet_name=sheet)
    except ImportError as e:
        raise ImportError(
            "read_excel_dim requires an Excel engine (openpyxl); "
            "load the dimension another way or install openpyxl"
        ) from e
    return spark.createDataFrame(pdf)


def read_jdbc_pushdown(
    spark: SparkSession,
    url: str,
    table_or_query: str,
    predicates: Sequence[str] | None = None,
    **options: str,
) -> DataFrame:
    """S7: JDBC extraction (the ICCA Reporting-DB queries). A
    ``(SELECT ...) t`` subquery or dbtable plus Spark-pushed predicates
    reproduces the reference's hand-written T-SQL narrowing — the
    'don't clog the server' guidance (variable_location_in_ICCA.sql:7-9)
    becomes pushed filters instead of supervision."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table_or_query)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    if predicates:
        return reader.load().filter(" AND ".join(f"({p})" for p in predicates))
    return reader.load()


def read_json_lines(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    date_cols: Sequence[str] | None = None,
) -> DataFrame:
    """JSON-lines scan with a PINNED schema — inference is a full extra
    pass over the data and locks in whatever the first sample looked
    like, so at 100 TB the schema is always declared. PERMISSIVE mode
    nulls fields that fail to conform instead of failing the scan
    (pair with ``read_csv_with_quarantine``'s pattern when the bad
    rows themselves matter)."""
    return _parse_dates(
        spark.read.schema(schema).json(path), date_cols
    )


def read_orc(
    spark: SparkSession,
    path: str,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """ORC scan — like parquet, a columnar format whose scans support
    predicate pushdown, column pruning, and split planning natively;
    the optional projection keeps ReadSchema minimal from the start."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def parquet_footer_stats(
    spark: SparkSession, path: str, value_col: str
) -> tuple:
    """COUNT/MIN/MAX answered from parquet FOOTER metadata — no row data
    read at all (Spark's v2 aggregate pushdown: the scan node carries
    ``PushedAggregation: [COUNT(*), MIN(c), MAX(c)]`` and each task
    reads only its files' footers). At 100 TB this turns a full-table
    statistics query into a metadata listing.

    The v2 source path and the pushdown flag are session configs, so
    the query runs in a CLONED session (``spark.newSession()``: same
    SparkContext/executors, isolated SQLConf) — queries planned
    concurrently in the caller's session never see the v2/pushdown
    settings, and there is no set/restore window to race on. Returns
    ``(row, plan)`` where ``row`` has (n_rows, min_v, max_v) and
    ``plan`` is the executed plan string (tests assert the
    PushedAggregation marker). Pushdown silently degrades to a normal
    scan when the column type/query shape is unsupported — the values
    are identical either way; only the plan marker differs."""
    scoped = spark.newSession()
    scoped.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    scoped.conf.set("spark.sql.sources.useV1SourceList", "")
    agg = (
        scoped.read.parquet(path)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        )
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    row = agg.collect()[0]
    return row, plan


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files span SCHEMA VERSIONS
    (columns added over time): ``mergeSchema`` unions the per-file
    schemas and backfills missing columns with NULL — the additive
    half of schema evolution every long-lived ingest dataset needs.
    Renames/retypes are NOT reconciled here (that is the schema-drift
    report's job — operators/reconcile + tests/test_schema_drift);
    incompatible types still fail the merge loudly.

    Cost note: merging reads every file's FOOTER at planning time —
    at 100 TB partition the dataset so only new partitions need
    merging, or pin the final schema once evolution settles."""
    return spark.read.option("mergeSchema", "true").parquet(path)
