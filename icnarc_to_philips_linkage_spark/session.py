"""SparkSession factory with scale-oriented defaults.

The engine targets 1000-executor clusters reading ~100 TB; tests run on
``local[N]``. Every config below is chosen so the *same* logical plans
stay efficient at both ends:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting and
  broadcast demotion/promotion replace hand-tuned partition counts.
- Arrow on: any pandas interop (grouped-map operators, toPandas in
  reports) moves columnar batches, not pickled rows.
- Session timezone pinned to UTC so timestamp semantics are
  deployment-independent (the reference inherits whatever the pandas
  process's locale was — we do not).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "icnarc_to_philips_linkage_spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master=None`` defers to spark-submit / an existing session, falling
    back to ``local[N]`` for standalone use.
    """
    # local[N] core count, also the default shuffle-partition count; a
    # real cluster overrides both via spark-submit conf.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: the scale story. Coalesces the post-shuffle
        # partitions bench cares about and splits skewed joins at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # Arrow for every pandas-interop boundary (grouped-map ops, reports).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Broadcast threshold: all reference dims (issue lists, interventions
        # key — SURVEY §2.3) are far below this; TPC-H-ish dims too.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Files: 128 MB split targets keep executor partitions memory-safe
        # at 100 TB (≈800k input splits, fine for a 1000-executor cluster).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # ANSI off: the reference's permissive string→numeric coercion
        # (pd.to_numeric(errors='coerce'), SURVEY §2.8 E11) maps to
        # NULL-on-unparseable casts, which is non-ANSI cast behavior.
        .config("spark.sql.ansi.enabled", "false")
    )
    local_master = bool(master and master.startswith("local")) or (
        not master and not os.environ.get("SPARK_MASTER")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    if local_master:
        # Local mode runs driver + all executor threads in ONE JVM and
        # Spark's default heap is 1 GiB — below the engine's own 64 MB
        # autoBroadcastJoinThreshold once a few broadcast builds and
        # persisted frames coexist. 8g measured: −4.5% on the heavy-
        # query keep-min subset, within noise on the full 203-query
        # sweep, and removes the OOM cliff; 40g measured SLOWER (larger
        # G1 regions/pauses at this working-set size), so bigger is not
        # better here. Cluster deployments never hit this branch —
        # spark-submit owns executor sizing.
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

