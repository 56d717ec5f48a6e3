"""Sinks + checkpoint helper (SURVEY.md §2.1 S6).

The reference checkpoints its expensive chartevents intermediate to CSV
and re-reads it ("processing this large table is slow", notebook cells
50/55). The engine's internal checkpoints are Parquet (columnar,
statistics, pushdown on re-read); CSV export is kept for interchange
parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_parquet(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def checkpoint_parquet(
    spark: SparkSession, df: DataFrame, path: str
) -> DataFrame:
    """Materialize-and-reread: cuts the lineage like the reference's
    CSV round-trip (cell 55) but columnar. Prefer ``df.persist()`` when
    the intermediate fits the cluster's storage memory; use this when
    lineage truncation or cross-job reuse is the point."""
    write_parquet(df, path)
    return spark.read.parquet(path)
