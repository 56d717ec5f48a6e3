"""The engine's query registry — the single source for __spark_entry__.

Merges the per-area query modules. Each value is ``(fn, oracle_sql)``
where ``fn(spark, sf_dir) -> DataFrame`` and ``oracle_sql`` is a DuckDB
SQL string producing the identical result on the same parquet tables
(None ⇒ not SQL-expressible; the driver records a rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from icnarc_to_philips_linkage_spark.plans import llm, relational, sql_surface

_MODULES = [relational, llm, sql_surface]


def all_queries() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    out: dict[str, tuple] = {}
    for mod in _MODULES:
        for name, pair in mod.QUERIES.items():
            if name in out:
                raise ValueError(f"duplicate query name: {name}")
            out[name] = pair
    return out


def exclusive_queries() -> frozenset[str]:
    """Names whose callables touch PROCESS-GLOBAL named state —
    fixed-name temp views (the sql surface) or persisted warehouse
    tables named by their trained-artifact key (the PQ index probes:
    two first builds of the same keyed table race the overwrite).
    Concurrent runners must execute these serially; everything else is
    safe to interleave on one SparkSession."""
    out: set[str] = set()
    for mod in _MODULES:
        out |= getattr(mod, "EXCLUSIVE", frozenset())
    return frozenset(out)
