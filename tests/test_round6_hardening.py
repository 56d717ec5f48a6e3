"""Round-6 hardening regressions: the five ADVICE r5 findings.

1. rollup exactly-once guard holds for out-of-order redeliveries and
   fresh-checkpoint replays (not just the currently-pointed batch).
2. parquet_footer_stats leaves the caller's session configs untouched.
3. llm.py oracle guards use TRY_CAST (checked via the oracle suite).
4. event_replay rejects non-identifier orderBy and survives quoted
   paths (bind parameters, not string interpolation).
5. long-lived plan caches persist until the runner's clearCache().
"""

import pytest
from pyspark.sql import functions as F


def _rollup_vals(spark, d):
    from icnarc_to_philips_linkage_spark.operators.rollup import (
        read_rollup_state,
        rollup_values,
    )

    return {
        r.k: r
        for r in rollup_values(read_rollup_state(spark, d), ["v"]).collect()
    }


def test_rollup_out_of_order_redelivery_is_noop(spark, tmp_path):
    from icnarc_to_philips_linkage_spark.operators.rollup import rollup_apply

    d = str(tmp_path / "rollup_ooo")
    b0 = spark.createDataFrame([("a", 1.0)], "k string, v double")
    b1 = spark.createDataFrame([("a", 2.0)], "k string, v double")
    b2 = spark.createDataFrame([("a", 4.0)], "k string, v double")
    assert rollup_apply(b0, d, ["k"], ["v"], batch_id=0)
    assert rollup_apply(b1, d, ["k"], ["v"], batch_id=1)
    assert rollup_apply(b2, d, ["k"], ["v"], batch_id=2)
    # out-of-order redelivery of a NON-current batch: the old pointer
    # guard only caught batch_id==2 here; the _APPLIED log catches all
    assert rollup_apply(b0, d, ["k"], ["v"], batch_id=0) is False
    assert rollup_apply(b1, d, ["k"], ["v"], batch_id=1) is False
    got = _rollup_vals(spark, d)
    assert got["a"].n == 3 and got["a"].sum_v == 7.0


def test_rollup_fresh_checkpoint_replay_is_noop(spark, tmp_path):
    """A stream restarted with a NEW checkpoint dir against an existing
    table replays from batch_id 0 — the applied log must swallow it."""
    from icnarc_to_philips_linkage_spark.operators.rollup import rollup_apply

    d = str(tmp_path / "rollup_fresh")
    b0 = spark.createDataFrame([("a", 1.0)], "k string, v double")
    b1 = spark.createDataFrame([("a", 2.0)], "k string, v double")
    for i, b in enumerate([b0, b1]):
        assert rollup_apply(b, d, ["k"], ["v"], batch_id=i)
    # fresh checkpoint: ids restart at 0 and replay the same batches
    for i, b in enumerate([b0, b1]):
        assert rollup_apply(b, d, ["k"], ["v"], batch_id=i) is False
    got = _rollup_vals(spark, d)
    assert got["a"].n == 2 and got["a"].sum_v == 3.0


def test_footer_stats_leaves_caller_session_configs_alone(spark, tmp_path):
    from icnarc_to_philips_linkage_spark.sources.readers import (
        parquet_footer_stats,
    )

    p = str(tmp_path / "t.parquet")
    spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).write.parquet(p)
    before_push = spark.conf.get(
        "spark.sql.parquet.aggregatePushdown", "false"
    )
    before_v1 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    row, plan = parquet_footer_stats(spark, p, "v")
    assert row.n_rows == 100 and row.min_v == 0 and row.max_v == 198
    # the scoped session carried the pushdown; the caller's did not flip
    assert (
        spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
        == before_push
    )
    assert spark.conf.get("spark.sql.sources.useV1SourceList", None) == before_v1
    assert "PushedAggregation" in plan


def test_event_replay_rejects_sql_in_order_by(tmp_path):
    from icnarc_to_philips_linkage_spark.streaming.replay import (
        _validated_order_by,
    )

    assert _validated_order_by("ts, event_id") == "ts, event_id"
    assert _validated_order_by("ts DESC,  event_id asc") == (
        "ts DESC, event_id asc"
    )
    for bad in [
        "ts; DROP TABLE x",
        "ts, (SELECT 1)",
        "ts'",
        "",
        "ts LIMIT 1",
    ]:
        with pytest.raises(ValueError):
            _validated_order_by(bad)


def test_event_replay_path_is_bind_parameter(spark, tmp_path):
    """A quote in the file path must not break (or escape) the DuckDB
    query — the path travels as a bind parameter."""
    from icnarc_to_philips_linkage_spark.streaming.replay import (
        EventReplayReader,
    )

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "it's data"
    d.mkdir()
    p = str(d / "ev.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(
                {
                    "event_id": [1, 2],
                    "ts": pd.to_datetime(
                        ["2024-01-01 00:00:00", "2024-01-01 00:00:01"]
                    ),
                }
            )
        ),
        p,
    )
    r = EventReplayReader({"path": p, "batchsize": "10", "orderby": "ts"})
    assert r.n_rows == 2
    rows, end = r.read({"idx": 0})
    assert end == {"idx": 2} and len(list(rows)) == 2


def test_plan_cache_persists_until_clear_cache(spark):
    from icnarc_to_philips_linkage_spark.operators import events

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    ev = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x")],
        "user_id bigint, item string",
    )
    out = events.association_rules(ev, user_col="user_id", item_col="item")
    rows = sorted(map(tuple, out.collect()))
    # the returned plan reads the persisted incidence table
    cached = out._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" in cached
    assert "StorageLevel(disk, memory" in cached
    assert not cache_manager.isEmpty()
    spark.catalog.clearCache()
    assert cache_manager.isEmpty()
    # plan still valid after the release (recomputes from lineage)
    assert sorted(map(tuple, out.collect())) == rows
    spark.catalog.clearCache()
