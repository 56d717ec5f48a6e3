"""Scale toolkit tests: salted join equivalence + spread, bucketed join
shuffle elision."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from icnarc_to_philips_linkage_spark.operators import scale


@pytest.fixture(scope="module")
def skewed(spark):
    # key 7 is hot: 500 of 600 rows
    rows = [Row(k=7, v=i) for i in range(500)] + [
        Row(k=i % 10, v=1000 + i) for i in range(100)
    ]
    return spark.createDataFrame(rows)


@pytest.fixture(scope="module")
def dim(spark):
    return spark.createDataFrame([Row(k=i, label=f"k{i}") for i in range(10)])


def test_salted_join_matches_plain_join(spark, skewed, dim):
    plain = sorted(
        map(tuple, skewed.join(dim, "k", "inner").select("k", "v", "label").collect())
    )
    salted = sorted(
        map(
            tuple,
            scale.salted_join(skewed, dim, "k", salts=8)
            .select("k", "v", "label")
            .collect(),
        )
    )
    assert plain == salted


def test_salting_spreads_hot_key(spark, skewed):
    salted = scale.salt_big_side(skewed, "k", 8)
    spread = (
        salted.filter(F.col("k") == 7)
        .select(scale.SALT_COL)
        .distinct()
        .count()
    )
    assert spread >= 6, "hot key must spread across most salt buckets"


def test_bucketed_join_elides_shuffle(spark):
    a = spark.range(0, 10000).withColumn("va", F.col("id") * 2)
    b = spark.range(0, 10000).withColumn("vb", F.col("id") * 3)
    scale.write_bucketed(a, "bkt_a", "id", buckets=8)
    scale.write_bucketed(b, "bkt_b", "id", buckets=8)
    # force the shuffle-join path (these toy tables would broadcast, and a
    # broadcast join sidesteps bucketing entirely) to show bucket elision
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = scale.bucketed_join(spark, "bkt_a", "bkt_b", "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, (
            f"co-bucketed join must not shuffle:\n{plan}"
        )
        assert "Bucketed: true" in plan, plan
        assert joined.count() == 10000
        # groupBy on the bucket key of one table needs no exchange either
        agg_plan = (
            spark.table("bkt_a")
            .groupBy("id")
            .count()
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange hashpartitioning" not in agg_plan, agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_lsh_index_bucketed_probe_no_corpus_shuffle(spark, tmp_path):
    """Persisted LSH index: probing a bucketed band table must (a) give
    the same candidate pairs as the in-memory LSH pipeline and (b) scan
    the corpus side straight from its buckets — the probe plan's only
    hash exchange belongs to the incoming batch."""
    from icnarc_to_philips_linkage_spark.operators import dedup_scale as ds
    from icnarc_to_philips_linkage_spark.plans.tables import load
    from tests.conftest import SF_SMOKE

    docs = load(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    table = "lsh_idx_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    ds.write_lsh_index(corpus, table, str(tmp_path / "lsh_idx"))
    try:
        got = ds.probe_lsh_index(spark, table, batch)

        # (a) parity with the in-memory band join on the same params
        cb = ds.lsh_bands(
            ds.minhash_signatures_arr(ds.shingle_sets(corpus))
        ).select(F.col("doc_id").alias("corpus_id"), "band_idx", "band_hash")
        bb = ds.lsh_bands(
            ds.minhash_signatures_arr(ds.shingle_sets(batch))
        ).select(F.col("doc_id").alias("incoming_id"), "band_idx", "band_hash")
        want = (
            cb.join(bb, ["band_idx", "band_hash"])
            .filter(F.col("incoming_id") != F.col("corpus_id"))
            .select("incoming_id", "corpus_id")
            .distinct()
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
        assert got.count() > 0, "smoke data should produce candidates"

        # (b) bucketed corpus side: disable broadcast so the join must
        # hash-partition — only the probe side may exchange
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            df = ds.probe_lsh_index(spark, table, batch)
            df.collect()
            plan = (
                df._jdf.queryExecution()
                .executedPlan()
                .toString()
                .split("== Initial Plan ==")[0]
            )
            n_exchanges = plan.count("Exchange hashpartitioning")
            # distinct() adds its own exchange; the join itself must
            # reuse the bucket layout for the corpus side: join-side
            # exchanges = 1 (incoming only), +1 for the distinct
            assert n_exchanges <= 2, (
                f"corpus side must not re-shuffle (bucketed):\n{plan}"
            )
            assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_spread_widens_narrow_scans_only(spark):
    """scale.spread: a scan narrower than ``width(spark)`` gains exactly
    a repartition to that width; an input already at or above it
    passes through UNTOUCHED (same plan object — at real scale the
    metadata check makes it a no-op); results are row-identical either
    way."""
    narrow = spark.range(0, 1000, 1, 2).withColumn(
        "k", F.pmod("id", F.lit(7))
    )
    wide = scale.spread(narrow, "id")
    assert wide.rdd.getNumPartitions() == scale.width(spark)
    assert sorted(r.id for r in wide.collect()) == list(range(1000))

    already = spark.range(0, 1000, 1, scale.width(spark))
    assert scale.spread(already) is already

    # hash placement is deterministic: two spreads of the same input
    # put every row in the same partition
    p1 = scale.spread(narrow, "id").select(
        "id", F.spark_partition_id().alias("p")
    ).collect()
    p2 = scale.spread(narrow, "id").select(
        "id", F.spark_partition_id().alias("p")
    ).collect()
    assert {r.id: r.p for r in p1} == {r.id: r.p for r in p2}


def test_core_count_is_read_only_by_width():
    """One partition-width policy: ``defaultParallelism`` appears in the
    package only inside ``scale.width``, so no plan picks its own
    core-derived width (and none can skip the floor of 4)."""
    import inspect
    import pathlib

    src, start = inspect.getsourcelines(scale.width)
    inside = range(start, start + len(src))
    root = pathlib.Path(scale.__file__).resolve().parent.parent
    stray = []
    for path in sorted(root.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if "defaultParallelism" in line and not (
                path.samefile(scale.__file__) and no in inside
            ):
                stray.append(f"{path.relative_to(root)}:{no}")
    assert not stray, stray
    assert any("defaultParallelism" in line for line in src)


def test_global_rank_is_total_order_permutation(spark):
    from icnarc_to_philips_linkage_spark.operators.scale import global_rank

    import random

    rnd = random.Random(7)
    rows = [(i, rnd.randint(0, 50)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, score long").repartition(7)
    out = global_rank(df, ["score", "id"], rank_col="rank").collect()
    assert sorted(r.rank for r in out) == list(range(1, 501))
    by_rank = sorted(out, key=lambda r: r.rank)
    keys = [(r.score, r.id) for r in by_rank]
    assert keys == sorted(keys)  # rank respects the total order


def test_global_rank_empty_input(spark):
    from icnarc_to_philips_linkage_spark.operators.scale import global_rank

    df = spark.createDataFrame([], "id long, score long")
    assert global_rank(df, ["score", "id"]).count() == 0


def test_compact_parquet_restores_file_health(spark, tmp_path):
    from icnarc_to_philips_linkage_spark.sources.layout import (
        compact_parquet,
        file_fragmentation_report,
    )

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    # simulate micro-batch fragmentation: 64 partitions for 1k rows
    spark.range(1000).withColumnRenamed("id", "k").repartition(
        64
    ).write.parquet(src)
    before = file_fragmentation_report(spark, src)
    assert before.n_files >= 32
    compact_parquet(spark, src, dst, target_file_bytes=before.total_bytes)
    after = file_fragmentation_report(spark, dst)
    assert after.n_files == 1
    # content preserved exactly
    a = sorted(r.k for r in spark.read.parquet(src).collect())
    b = sorted(r.k for r in spark.read.parquet(dst).collect())
    assert a == b


def test_compact_parquet_sorted_rewrite_tightens_envelopes(spark, tmp_path):
    from icnarc_to_philips_linkage_spark.sources.layout import compact_parquet

    src = str(tmp_path / "frag2")
    dst = str(tmp_path / "comp2")
    spark.range(2000).withColumnRenamed("id", "k").repartition(
        16
    ).write.parquet(src)
    n = compact_parquet(
        spark, src, dst, target_file_bytes=10_000, sort_cols=["k"]
    )
    assert n >= 2
    # range-sorted rewrite: per-file key ranges must not overlap
    import pyarrow.parquet as pq
    import glob

    envelopes = []
    for f in glob.glob(f"{dst}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(0).statistics
            mins.append(st.min)
            maxs.append(st.max)
        envelopes.append((min(mins), max(maxs)))
    envelopes.sort()
    for (lo1, hi1), (lo2, hi2) in zip(envelopes, envelopes[1:]):
        assert hi1 <= lo2  # disjoint ranges


class TestGlobalDenseRank:
    def test_matches_distinct_rank_join(self, spark):
        """Dense rank must equal the rank you'd get from
        global_rank(keys.distinct()) joined back — the shape it
        replaces."""
        from pyspark.sql import functions as F

        from icnarc_to_philips_linkage_spark.operators.scale import (
            global_dense_rank,
            global_rank,
        )

        df = spark.createDataFrame(
            [(i, f"k{i % 17:03d}") for i in range(200)], "id long, k string"
        ).repartition(7)
        dense = {
            (r.id, r.rank)
            for r in global_dense_rank(df, ["k"], rank_col="rank").collect()
        }
        ref_ranks = global_rank(
            df.select("k").distinct(), ["k"], rank_col="rank"
        )
        ref = {
            (r.id, r.rank)
            for r in df.join(ref_ranks, "k").select("id", "rank").collect()
        }
        assert dense == ref

    def test_equal_keys_equal_rank_dense_range(self, spark):
        from icnarc_to_philips_linkage_spark.operators.scale import (
            global_dense_rank,
        )

        df = spark.createDataFrame(
            [(i, i % 5) for i in range(50)], "id long, k int"
        ).repartition(11)
        out, total = global_dense_rank(
            df, ["k"], rank_col="rank", return_total=True
        )
        rows = out.collect()
        assert total == 5
        by_key = {}
        for r in rows:
            by_key.setdefault(r.k, set()).add(r.rank)
        # one rank per key, ranks exactly 1..5, ascending with key
        assert all(len(v) == 1 for v in by_key.values())
        ranks = [by_key[k].pop() for k in sorted(by_key)]
        assert ranks == [1, 2, 3, 4, 5]

    def test_partition_count_invariance(self, spark):
        from icnarc_to_philips_linkage_spark.operators.scale import (
            global_dense_rank,
        )

        rows = [(i, f"x{i % 13}") for i in range(100)]
        df = spark.createDataFrame(rows, "id long, k string")
        a = sorted(
            (r.id, r.rank)
            for r in global_dense_rank(
                df.repartition(1), ["k"], rank_col="rank", partitions=3
            ).collect()
        )
        b = sorted(
            (r.id, r.rank)
            for r in global_dense_rank(
                df.repartition(17), ["k"], rank_col="rank", partitions=9
            ).collect()
        )
        assert a == b
