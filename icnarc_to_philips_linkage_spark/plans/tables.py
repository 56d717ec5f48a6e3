"""Testdata table loading (TESTDATA.md).

Parquet scans go through here so every query inherits the same scan
behavior: schema from parquet footer, filter/column pushdown on (session
defaults), no inference pass.
"""

from __future__ import annotations

import functools
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan. ``events.ts`` is written as TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects; read it as nanos-since-epoch long
    (legacy conf, runtime-settable) and convert to a microsecond timestamp
    — identical truncation to what the DuckDB oracle does (TIMESTAMP_NS →
    TIMESTAMP). The cast is a cheap codegen'd projection, not a UDF."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # semantics must not depend on who built the SparkSession (the driver
    # harness may not have gone through session.get_spark): pin timezone
    # and non-ANSI casts (Spark 4 defaults ANSI on, where lossy casts
    # throw instead of yielding NULL — the engine's E11 coercion model)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer DIV — a double division would lose precision at
            # nanosecond epoch magnitudes (~1.7e18 > 2^53)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # parquet timestamp[us] without TZ reads as TIMESTAMP_NTZ, which
            # unix_micros() et al. reject; under the pinned UTC session TZ
            # this cast keeps the same instant (wall clock == UTC instant)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Trained artifacts (model weights, codebooks, merge tables) by key.
_TRAINED: dict = {}


def artifact_key(builder, sf_dir: str, sources, params: tuple = ()) -> str:
    """Name of a trained artifact, valid while the builder, its params,
    ``sf_dir`` and the size and mtime of every ``sources`` table file are
    unchanged: a table rewritten at the same path gets a new name and
    retrains. Doubles as the warehouse name of an artifact kept in tables."""
    stats = [(n, os.stat(f"{sf_dir}/{n}.parquet")) for n in sources]
    key = (builder.__module__, builder.__qualname__, params, sf_dir,
           [(n, st.st_size, st.st_mtime_ns) for n, st in stats])
    return "trained_" + hashlib.md5(repr(key).encode()).hexdigest()[:16]


def trained(*sources: str):
    """Memoize ``builder(spark, sf_dir, *params)`` under ``artifact_key``:
    each version of the ``sources`` tables trains once per process and
    every consumer shares the one result."""

    def wrap(builder):
        @functools.wraps(builder)
        def memo(spark: SparkSession, sf_dir: str, *params):
            key = artifact_key(builder, sf_dir, sources, params)
            if key not in _TRAINED:
                _TRAINED[key] = builder(spark, sf_dir, *params)
            return _TRAINED[key]

        return memo

    return wrap


def clear_trained(spark: SparkSession) -> None:
    """Forget every trained artifact, in memory and in the warehouse, so
    the next consumer pays the full training (keep-min sweeps)."""
    _TRAINED.clear()
    for t in spark.catalog.listTables():
        if t.name.startswith("trained_"):
            spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")


# Plan caches have one lifecycle. A persist that the returned plan still
# reads (an intermediate with several consumers) is released by whoever
# runs the action, with ``spark.catalog.clearCache()``: bench.py, the
# tools/ sweeps and the plan-fingerprint test do so after every query.
# The curation pipelines (``pipelines.py``) persist their shared stage
# outputs the same way (EP1's philips_merged and linked, EP2's parsed
# XML records, EP3's decorated events); the caller releases
# them after the run's last sink or report. A pipeline call replaces the
# caches an earlier call left on the same input paths, so a rewritten
# input is read afresh (``persist_fresh``).
# A persist used up inside the function is unpersisted there before it
# returns (regression's GD and quantile-GD trainers, the PCA power
# iteration, PQ training, connected_components' edges). Spark's storage lists
# every live cache: ``spark.sparkContext._jsc.sc().getPersistentRDDs()``.


def persist_fresh(df: DataFrame) -> DataFrame:
    """Persist ``df`` as this call's own cache. ``unpersist`` first drops
    an entry an earlier call cached for the same plan, which the cache
    manager would otherwise reuse even if the files under it changed."""
    df.unpersist()
    return df.persist()


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Temp views for the Spark SQL surface (SURVEY §7 sql/views)."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
