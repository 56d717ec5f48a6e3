"""Round-7 hardening tests: the fuzzy-linkage oversized-block guard,
plan-cache release under repeated sweeps, and regression pins for
the operators whose determinism recipe changed while gaining full
oracles (CUSUM quantization, PQ float32 codebooks, kmeans rounded
distances, decontam per-corpus-doc screening)."""

from __future__ import annotations

from pyspark.sql import functions as F

from icnarc_to_philips_linkage_spark.operators.fuzzy import (
    blocking_key,
    fuzzy_join,
)


def _skewed_names(spark, n=400):
    """One dominant 4-char prefix ('aaaa...'), diverse from char 5 on:
    ids chosen so the 8-char extended prefix splits the hot block into
    groups of <= 40, with a planted typo pair inside one subgroup."""
    rows = [(i, f"aaaa{i // 40:04d}x{i:05d}") for i in range(n)]
    rows.append((n, f"aaaa{3:04d}x{123:05d}q"))  # 1-edit typo of id 123
    return spark.createDataFrame(rows, "id long, name string")


def test_fuzzy_block_guard_bounds_block_sizes(spark):
    """With the guard on, no effective block exceeds the extended-key
    group size even though every row shares the 4-char prefix — the
    worst-case compare count is bounded by (cap-extended blocks)²."""
    df = _skewed_names(spark)
    l = df.withColumn("__blk", blocking_key("name", 4))
    base_max = (
        l.groupBy("__blk").count().agg(F.max("count")).collect()[0][0]
    )
    assert base_max >= 400  # the pathology is real: one dominant block

    # reproduce the guard's re-key rule and check the bound it enforces
    ext = df.withColumn("__blk", blocking_key("name", 8))
    ext_max = (
        ext.groupBy("__blk").count().agg(F.max("count")).collect()[0][0]
    )
    assert ext_max <= 41

    out = fuzzy_join(
        df,
        df.select(
            F.col("id").alias("rid"), F.col("name").alias("rname")
        ),
        "name",
        "rname",
        max_distance=1,
        prefix_len=4,
        max_block_rows=100,
    ).filter(F.col("id") != F.col("rid"))
    pairs = out.select("id", "rid").collect()
    # the planted typo pair shares the EXTENDED prefix too, so the
    # guard must not lose it
    assert (400, 123) in {(r.id, r.rid) for r in pairs}
    # every surviving candidate agrees on the extended key (the guard
    # really re-keyed the oversized block)
    joined = out.join(
        df.select(F.col("id"), blocking_key("name", 8).alias("kl")), "id"
    ).join(
        df.select(
            F.col("id").alias("rid"), blocking_key("name", 8).alias("kr")
        ),
        "rid",
    )
    assert joined.filter(F.col("kl") != F.col("kr")).count() == 0


def test_fuzzy_block_guard_off_matches_unguarded(spark):
    """Below the cap the guard is a no-op: identical candidate sets
    with the guard enabled, disabled, or set above the data size."""
    df = _skewed_names(spark, n=50)
    r = df.select(F.col("id").alias("rid"), F.col("name").alias("rname"))
    kw = dict(max_distance=1, prefix_len=4)
    a = fuzzy_join(df, r, "name", "rname", max_block_rows=None, **kw)
    b = fuzzy_join(df, r, "name", "rname", max_block_rows=10_000, **kw)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_clear_cache_returns_storage_to_baseline(spark):
    """VERDICT r6 #8: three bench-style sweeps over operators whose
    returned plans read a persisted intermediate, released the way every
    runner releases them (``spark.catalog.clearCache()``). Each sweep
    really caches, the JVM's persistent-RDD map returns to its baseline
    after the release, the plans recompute afterwards, and no Python
    ``DataFrame`` outlives the sweep — the long-session leak guard."""
    import gc
    import time

    from pyspark.sql import DataFrame

    from tests.conftest import SF_SMOKE

    from icnarc_to_philips_linkage_spark.plans import llm

    jsc = spark.sparkContext._jsc.sc()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    # order-independence: earlier tests in the session may have left
    # plan caches (CacheManager would then dedupe our persists and the
    # sweep would cache nothing new) — start from a clean slate
    spark.catalog.clearCache()
    # localCheckpoint RDDs (kcenter/mmr/pagerank rounds) are NOT in the
    # catalog — they release via ContextCleaner once the Python-side
    # DataFrames are garbage collected. Force both collectors so
    # leftovers from earlier tests drain NOW instead of mid-sweep
    # (observed: a leftover collected during the sweep made the count
    # drop BELOW the inflated baseline)
    gc.collect()
    spark.sparkContext._jvm.System.gc()

    def n_persistent() -> int:
        return jsc.getPersistentRDDs().size()

    def n_frames() -> int:
        gc.collect()
        return sum(isinstance(o, DataFrame) for o in gc.get_objects())

    def settles_at_most(target: int, timeout_s: float = 10.0) -> bool:
        # unpersist is asynchronous (blocking=False) — poll briefly;
        # concurrent ContextCleaner work may legitimately go BELOW
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if n_persistent() <= target:
                return True
            time.sleep(0.2)
        return n_persistent() <= target

    # let async unpersists from the clean-up drain before baselining:
    # wait until the persistent-RDD count is STABLE for 1.5 s (a
    # decreasing-only loop can break between two drain steps and
    # record an inflated baseline — observed 7 vs a true floor of 1)
    last = n_persistent()
    stable_since = time.time()
    deadline = time.time() + 20.0
    while time.time() < deadline:
        time.sleep(0.3)
        cur = n_persistent()
        if cur != last:
            last, stable_since = cur, time.time()
        elif time.time() - stable_since >= 1.5:
            break
    baseline = last
    frames_before = n_frames()
    for _ in range(3):
        pre = n_persistent()  # fresh floor per sweep — GC may have
        # drained stragglers since the last iteration
        lsh = llm.dedup_minhash_lsh(spark, SF_SMOKE)
        lm = llm.quality_ngram_lm(spark, SF_SMOKE)
        counts = (lsh.count(), lm.count())
        # the sweep really cached: the catalog's cache manager was
        # emptied above, so anything in it now is the sweep's persists
        assert not cache_manager.isEmpty(), "sweep persisted nothing"
        spark.catalog.clearCache()
        assert cache_manager.isEmpty(), "clearCache left a plan cache"
        assert settles_at_most(max(baseline, pre))
        # plans still valid after the release (recompute from lineage)
        assert (lsh.count(), lm.count()) == counts
        spark.catalog.clearCache()
        del lsh, lm
        assert n_frames() <= frames_before, "a DataFrame outlived the sweep"


def test_cusum_z_quantization_is_6dp(spark):
    """The CUSUM fold consumes 6dp-quantized z (oracle-parity recipe):
    every emitted z has at most 6 decimals and the alarm trajectory is
    reproducible from the emitted columns."""
    import datetime as dt

    from icnarc_to_philips_linkage_spark.operators.timeseries import (
        cusum_alarms,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), v)
        for i, v in enumerate([10.0, 10.1, 9.9, 10.05, 30.0, 31.0, 32.0])
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )
    out = (
        cusum_alarms(df, "user_id", "ts", "value")
        .orderBy("ts")
        .collect()
    )
    for r in out:
        assert abs(r.z * 1e6 - round(r.z * 1e6)) < 1e-6
    # replay the fold from the emitted z — bit-identical statistics
    sp = sn = 0.0
    for r in out:
        sp = max(0.0, sp + r.z - 0.5)
        sn = max(0.0, sn - r.z - 0.5)
        assert (r.cusum_pos, r.cusum_neg) == (sp, sn)
        assert r.alarm == (sp > 5.0 or sn > 5.0)
        if r.alarm:
            sp = sn = 0.0
    assert any(r.alarm for r in out)  # the planted level shift fires


def test_decontam_embedding_flags_all_above_threshold(spark):
    """ADVICE r6 (medium): the screen is per CORPUS doc — every corpus
    vector with any bench cosine >= T is flagged, not just each
    bench vector's single nearest neighbor."""
    from tests.conftest import SF_SMOKE

    from icnarc_to_philips_linkage_spark.operators import similarity
    from icnarc_to_philips_linkage_spark.plans import llm
    from icnarc_to_philips_linkage_spark.plans.tables import load

    flagged = llm.decontam_embedding(spark, SF_SMOKE)
    emb = load(spark, SF_SMOKE, "embeddings")
    bench = emb.filter(F.col("vec_id") < llm._EMB_DECONTAM_NBENCH)
    corpus = emb.filter(F.col("vec_id") >= llm._EMB_DECONTAM_NBENCH)
    expected = (
        corpus.crossJoin(F.broadcast(bench.select(F.col("embedding").alias("bv"))))
        .select(
            "vec_id",
            F.round(similarity.cosine("embedding", "bv"), 6).alias("c"),
        )
        .filter(F.col("c") >= llm._EMB_DECONTAM_T)
        .select("vec_id")
        .distinct()
    )
    n_expected = expected.count()
    assert n_expected > 0
    assert flagged.count() == n_expected
    flagged_ids = {r.doc_id for r in flagged.select("doc_id").collect()}
    assert flagged_ids == {r.vec_id for r in expected.collect()}


def test_deletion_join_finds_pairs_prefix_blocking_misses(spark):
    """The position-tagged deletion join is COMPLETE for distance <= 1:
    a pair differing in an EARLY character (inside fuzzy_join's
    blocking prefix) must be found, though prefix blocking cannot see
    it; distance-2 pairs (incl. transpositions, the classic FastSS
    false candidate) must NOT appear."""
    from pyspark.sql import Row

    from icnarc_to_philips_linkage_spark.operators.fuzzy import (
        deletion_neighborhood_join,
        fuzzy_join,
    )

    rows = [
        Row(id=1, name="alpha0001"),
        Row(id=2, name="alpha0002"),   # late substitution
        Row(id=3, name="blpha0001"),   # EARLY substitution vs id 1
        Row(id=4, name="alpha001"),    # deletion vs id 1
        Row(id=5, name="alpha00012"),  # insertion vs id 1
        Row(id=6, name="lapha0001"),   # transposition vs id 1 → d=2
        Row(id=7, name="alpha0001"),   # exact duplicate of id 1
    ]
    df = spark.createDataFrame(rows)
    r = df.select(F.col("id").alias("rid"), F.col("name").alias("rname"))

    got = {
        (x.id, x.rid): x.edit_distance
        for x in deletion_neighborhood_join(df, r, "name", "rname")
        .filter(F.col("id") < F.col("rid"))
        .collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 1  # early edit: invisible to prefix blocks
    assert got[(1, 4)] == 1 and got[(1, 5)] == 1
    assert got[(1, 7)] == 0
    assert (1, 6) not in got  # transposition = distance 2
    # completeness delta vs the prefix-blocked heuristic with a prefix
    # that covers the early edit position
    blocked = {
        (x.id, x.rid)
        for x in fuzzy_join(
            df, r, "name", "rname", max_distance=1, prefix_len=4
        )
        .filter(F.col("id") < F.col("rid"))
        .collect()
    }
    assert (1, 3) not in blocked  # prefix 'alph' != 'blph' — missed
    assert (1, 3) in got


def test_jaccard_prefix_join_complete_vs_blocked_and_brute(spark):
    """The prefix-filtered exact join must (a) reproduce brute-force
    all-pairs ground truth exactly and (b) be a superset of the 1-perm
    MinHash-blocked variant at the same threshold (the blocked result
    can only MISS pairs, never add them)."""
    from itertools import combinations

    from icnarc_to_philips_linkage_spark.operators.dedup_scale import (
        jaccard_prefix_join,
        ngram_jaccard_dedup,
        shingle_sets,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    rows = []
    for i in range(40):
        base = [words[(i + j) % 10] for j in range(6)]
        rows.append((i, " ".join(base)))
        if i % 7 == 0:  # planted near-dup: one word swapped
            rows.append((100 + i, " ".join(base[:-1] + ["omega"])))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    T = 0.3
    sets = shingle_sets(df, n=3)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_prefix_join(
            sets, threshold=T, set_col="sh_arr"
        ).collect()
    }
    # brute-force ground truth over the same shingle sets
    raw = {r.doc_id: set(r.sh_arr) for r in sets.collect()}
    truth = {}
    for a, b in combinations(sorted(raw), 2):
        inter = len(raw[a] & raw[b])
        j = round(inter / (len(raw[a]) + len(raw[b]) - inter), 6)
        if j >= T:
            truth[(a, b)] = j
    assert got == truth
    assert truth  # the planted near-dups really qualify

    blocked = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_dedup(df, n=3, threshold=T).collect()
    }
    assert blocked <= set(got)


def test_dedup_aware_split_never_straddles_clusters(spark):
    """Near-duplicate documents (same LSH cluster) must receive the
    SAME split label; singleton docs must match a plain per-doc hash
    split exactly (the clustering only corrects, never perturbs)."""
    from icnarc_to_philips_linkage_spark.operators.sampling import (
        dedup_aware_split,
        hash_split,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then "
        "runs far away into the deep dark forest tonight"
    )
    rows = [(i, f"unique document number {i} " + " ".join(
        f"w{i}x{j}" for j in range(12))) for i in range(30)]
    rows += [(100, base), (101, base + " extra"), (102, base + " more")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fr = {"train": 0.6, "val": 0.2, "test": 0.2}
    out = dedup_aware_split(df, fractions=fr, threshold=0.3).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(by_id) == 33  # every doc labeled exactly once
    # the planted near-dup trio shares a cluster rep and a split
    reps = {by_id[i].cluster_rep for i in (100, 101, 102)}
    assert reps == {100}
    assert len({by_id[i].split for i in (100, 101, 102)}) == 1
    # singletons: identical to the plain per-doc hash split
    plain = {
        r.doc_id: r.split
        for r in hash_split(df, "doc_id", fr).collect()
    }
    for i in range(30):
        assert by_id[i].cluster_rep == i
        assert by_id[i].split == plain[i]


# ------------------------------------------------------- Jaro–Winkler


def test_jaro_winkler_known_values():
    """Classic pairs + the DuckDB conventions the implementation pins:
    0.0 for empty inputs (not 1.0), no Winkler bonus at/below the 0.7
    boost threshold, integer-floored transposition halving."""
    from icnarc_to_philips_linkage_spark.operators.fuzzy import (
        jaro_winkler_py,
    )

    assert abs(jaro_winkler_py("martha", "marhta") - 0.9611111111111111) < 1e-15
    assert abs(jaro_winkler_py("dixon", "dicksonx") - 0.8133333333333332) < 1e-15
    assert jaro_winkler_py("", "") == 0.0
    assert jaro_winkler_py("a", "") == 0.0
    assert jaro_winkler_py("same", "same") == 1.0
    # below the boost threshold: jaro == jw despite the shared prefix
    assert abs(jaro_winkler_py("abcdef", "abxxxx") - 0.5555555555555555) < 1e-15
    # odd transposition count: floor(t/2), not t/2 (DuckDB/rapidfuzz)
    assert abs(
        jaro_winkler_py("d1caca1b", "daca1aca0") - 0.775
    ) < 1e-12


def test_jaro_winkler_differential_vs_duckdb():
    """Bit-exact differential against DuckDB's native
    jaro_winkler_similarity over random pairs (three alphabets, typo'd
    prefixes, empties) — the same function the registered oracle uses,
    so a pass here means the 6dp rounding in fuzzy_jaro_winkler can
    never straddle an engine ulp."""
    import random

    import duckdb

    from icnarc_to_philips_linkage_spark.operators.fuzzy import (
        jaro_winkler_py,
    )

    con = duckdb.connect()
    random.seed(20260814)
    for i in range(2500):
        alpha = ("abcd01", "ab", "abcdefgh")[i % 3]
        a = "".join(random.choice(alpha) for _ in range(random.randint(0, 14)))
        b = "".join(random.choice(alpha) for _ in range(random.randint(0, 14)))
        if random.random() < 0.5:
            b = (a[: random.randint(0, len(a))] + b)[:14]
        ref = con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        assert abs(jaro_winkler_py(a, b) - ref) < 1e-12, (a, b)


def test_jw_udf_over_deletion_join_with_barrier(spark):
    """The registered fuzzy_jaro_winkler shape end-to-end on planted
    rows: pandas UDF applied after the repartition barrier over the
    deletion join's union-of-aggregates plan (without the barrier,
    Spark 4.1's ExtractPythonUDFFromAggregate can invalidate the plan —
    'previously resolved became unresolved' — for some expression
    shapes; the barrier also spreads the Arrow batches)."""
    from icnarc_to_philips_linkage_spark.operators.fuzzy import (
        deletion_neighborhood_join,
        jaro_winkler_py,
        jaro_winkler_udf,
    )

    jw = jaro_winkler_udf()
    c = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "xbd")], "c_custkey int, c_name string"
    )
    r = c.select(
        F.col("c_custkey").alias("match_key"),
        F.col("c_name").alias("match_name"),
    )
    pairs = deletion_neighborhood_join(c, r, "c_name", "match_name").filter(
        F.col("c_custkey") < F.col("match_key")
    )
    ok = (
        pairs.select("c_custkey", "match_key", "c_name", "match_name")
        .repartition(F.col("c_custkey"), F.col("match_key"))
        .select(
            "c_custkey",
            "match_key",
            F.round(jw("c_name", "match_name"), 6).alias("s"),
        )
        .collect()
    )
    expect = {
        (1, 2): round(jaro_winkler_py("abc", "abd"), 6),
        (2, 3): round(jaro_winkler_py("abd", "xbd"), 6),
    }
    got = {(row.c_custkey, row.match_key): row.s for row in ok}
    assert got == expect


def test_fuzzy_jaro_winkler_ranks_prefix_typos_higher(spark):
    """The point of JW rescoring: among distance-1 pairs, a LAST-char
    typo scores higher than a FIRST-char typo (prefix bonus + position
    weighting) — the boolean edit distance can't express that."""
    from icnarc_to_philips_linkage_spark.operators.fuzzy import (
        jaro_winkler_py,
    )

    late = jaro_winkler_py("customer123", "customer124")
    early = jaro_winkler_py("customer123", "xustomer123")
    assert late > early > 0.5


# ----------------------------------------------- OSA-1 (Damerau) join


def _osa(a: str, b: str) -> int:
    """Reference optimal-string-alignment distance (restricted
    Damerau), small-input brute force for the property test."""
    la, lb = len(a), len(b)
    d = [[0] * (lb + 1) for _ in range(la + 1)]
    for i in range(la + 1):
        d[i][0] = i
    for j in range(lb + 1):
        d[0][j] = j
    for i in range(1, la + 1):
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d[i][j] = min(
                d[i - 1][j] + 1, d[i][j - 1] + 1, d[i - 1][j - 1] + cost
            )
            if (
                i > 1
                and j > 1
                and a[i - 1] == b[j - 2]
                and a[i - 2] == b[j - 1]
            ):
                d[i][j] = min(d[i][j], d[i - 2][j - 2] + 1)
    return d[la][lb]


def test_osa1_join_planted_cases(spark):
    """Transposition caught (Levenshtein-1 join misses it), plus one of
    each other class and distance-2 junk excluded."""
    from icnarc_to_philips_linkage_spark.operators.fuzzy import (
        osa1_neighborhood_join,
    )

    rows = [
        (1, "martha"),
        (2, "marhta"),   # adjacent transposition of 1
        (3, "marsha"),   # substitution of 1
        (4, "marthas"),  # insertion on 1
        (5, "martha"),   # equal to 1
        (6, "xartha!"),  # sub of 1 after normalization strips '!'
        (7, "zzzzzz"),   # unrelated
        (8, "mrahta"),   # distance 2 from 1 (non-adjacent swaps)
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    r = df.select(F.col("id").alias("rid"), F.col("name").alias("rname"))
    out = (
        osa1_neighborhood_join(df, r, "name", "rname")
        .filter(F.col("id") < F.col("rid"))
        .select("id", "rid", "osa_distance", "edit_type")
        .collect()
    )
    got = {(row.id, row.rid): (row.osa_distance, row.edit_type) for row in out}
    assert got[(1, 2)] == (1, "transposition")
    assert got[(1, 3)] == (1, "substitution")
    assert got[(1, 4)] == (1, "indel")
    assert got[(1, 5)] == (0, "equal")
    assert got[(1, 6)] == (1, "substitution")
    assert (1, 8) not in got  # OSA distance 2: two separate ops
    assert (1, 7) not in got
    assert len(out) == len(got)  # no duplicate pair rows


def test_osa1_join_complete_vs_bruteforce(spark):
    """Completeness + soundness property on a random corpus: the join's
    pair set equals ALL pairs at brute-force OSA distance <= 1 over the
    normalized strings, with the right distance label."""
    import random

    from icnarc_to_philips_linkage_spark.operators.fuzzy import (
        osa1_neighborhood_join,
    )

    random.seed(42)
    names = []
    base = ["abcde", "abcd", "aabbc", "xyzzy", "ababa"]
    for i in range(120):
        s = list(random.choice(base))
        op = random.random()
        p = random.randrange(len(s))
        if op < 0.3:
            s[p] = random.choice("abxyz")
        elif op < 0.5 and p + 1 < len(s):
            s[p], s[p + 1] = s[p + 1], s[p]
        elif op < 0.7:
            s.insert(p, random.choice("abxyz"))
        elif op < 0.9 and len(s) > 1:
            del s[p]
        names.append((i, "".join(s)))
    df = spark.createDataFrame(names, "id long, name string")
    r = df.select(F.col("id").alias("rid"), F.col("name").alias("rname"))
    got = {
        (row.id, row.rid): row.osa_distance
        for row in osa1_neighborhood_join(df, r, "name", "rname")
        .filter(F.col("id") < F.col("rid"))
        .select("id", "rid", "osa_distance")
        .collect()
    }
    want = {}
    for i, a in names:
        for j, b in names:
            if i < j and _osa(a, b) <= 1:
                want[(i, j)] = _osa(a, b)
    assert got == want


# --------------------------------------------- suffix-order repeats


def test_longest_repeats_planted(spark):
    """Planted full-prefix duplicate + a shorter internal repeat: the
    report surfaces the long cross-doc copy first with the exact span
    and excerpt, and the suffix order's adjacent-pair LCPs equal a
    brute-force check."""
    from icnarc_to_philips_linkage_spark.operators.suffixes import (
        longest_repeated_sequences,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (3, "unrelated words entirely on their own track"),
        (4, "middle copy alpha beta gamma delta end here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = longest_repeated_sequences(df, top_k=3).collect()
    top = out[0]
    assert (top.doc_a, top.off_a, top.doc_b, top.off_b) == (1, 1, 2, 1)
    assert top.lcp_tokens == 8
    assert top.excerpt == "alpha beta gamma delta epsilon zeta eta theta"
    # the 4-token internal copy ranks below the 8- and 7-token pairs
    assert all(r.lcp_tokens >= 4 for r in out)


def test_longest_repeats_matches_bruteforce_order(spark):
    """Differential vs a Python brute force on a random corpus: top-k
    adjacent-pair LCPs from the doubling construction equal the ones
    from directly sorting all capped suffixes."""
    import random

    from icnarc_to_philips_linkage_spark.operators.suffixes import (
        longest_repeated_sequences,
    )

    random.seed(11)
    vocab = ["ab", "cd", "ef", "gh", "ij"]
    docs = []
    for i in range(30):
        toks = [random.choice(vocab) for _ in range(random.randint(3, 20))]
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [
        (r.doc_a, r.off_a, r.doc_b, r.off_b, r.lcp_tokens)
        for r in longest_repeated_sequences(df, top_k=8).collect()
    ]
    # brute force: sort capped suffixes as token tuples
    sufs = []
    for i, text in docs:
        toks = text.split()
        for off in range(1, len(toks) + 1):
            sufs.append((tuple(toks[off - 1 : off - 1 + 64]), i, off))
    sufs.sort()
    want = []
    for (sa, da, oa), (sb, db, ob) in zip(sufs, sufs[1:]):
        lcp = 0
        for x, y in zip(sa, sb):
            if x != y:
                break
            lcp += 1
        want.append((da, oa, db, ob, lcp))
    want.sort(key=lambda t: (-t[4], t[0], t[1]))
    assert got == want[:8]


def test_new_ops_degenerate_inputs(spark):
    """Empty / degenerate inputs return empty results, not errors: the
    OSA join on an empty frame, the repeats report when every doc
    normalizes to nothing, and NULL names through the JW UDF."""
    from icnarc_to_philips_linkage_spark.operators.fuzzy import (
        jaro_winkler_udf,
        osa1_neighborhood_join,
    )
    from icnarc_to_philips_linkage_spark.operators.suffixes import (
        longest_repeated_sequences,
    )

    empty = spark.createDataFrame([], "id long, name string")
    r = empty.select(
        F.col("id").alias("rid"), F.col("name").alias("rname")
    )
    assert osa1_neighborhood_join(empty, r, "name", "rname").count() == 0

    blank_docs = spark.createDataFrame(
        [(1, "!!! ???"), (2, "   "), (3, "...")],
        "doc_id long, text string",
    )
    assert longest_repeated_sequences(blank_docs).count() == 0

    jw = jaro_winkler_udf()
    rows = spark.createDataFrame(
        [("abc", None), (None, "abc"), ("abc", "abc")],
        "a string, b string",
    ).select(jw("a", "b").alias("s")).collect()
    assert [r.s for r in rows] == [None, None, 1.0]


def _rs_corpora(spark):
    """Train corpus with planted near-copies of two bench docs, plus a
    bench-only vocabulary doc (its tokens never occur in train — the
    count-0 rank path)."""
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    train = []
    for i in range(30):
        base = [words[(i + j) % 10] for j in range(6)]
        train.append((i, " ".join(base)))
    bench = [
        (1000, " ".join([words[j] for j in range(6)])),          # == train 0
        (1001, " ".join([words[(3 + j) % 10] for j in range(5)] + ["omega"])),
        (1002, "foo bar baz qux quux corge"),                    # disjoint
    ]
    return (
        spark.createDataFrame(train, "doc_id long, text string"),
        spark.createDataFrame(bench, "doc_id long, text string"),
    )


def _rs_truth(train_df, bench_df, t):
    from icnarc_to_philips_linkage_spark.operators.dedup_scale import (
        shingle_sets,
    )

    tr = {
        r.doc_id: set(r.sh_arr)
        for r in shingle_sets(train_df, n=3).collect()
    }
    be = {
        r.doc_id: set(r.sh_arr)
        for r in shingle_sets(bench_df, n=3).collect()
    }
    truth = {}
    for a, sa in tr.items():
        for b, sb in be.items():
            inter = len(sa & sb)
            j = round(inter / (len(sa) + len(sb) - inter), 6)
            if j >= t:
                truth[(a, b)] = j
    return truth


def test_jaccard_rs_complete_vs_brute_and_mode_parity(spark):
    """Cross-corpus prefix join must equal brute-force all-pairs ground
    truth, and the map-only 'hashed' order must return the identical
    row set as the stats-based 'frequency' order (the order only steers
    candidate generation; exact Jaccard decides membership)."""
    from icnarc_to_philips_linkage_spark.operators.dedup_scale import (
        jaccard_prefix_join_rs,
        shingle_sets,
    )

    train_df, bench_df = _rs_corpora(spark)
    T = 0.3
    tr, be = shingle_sets(train_df, n=3), shingle_sets(bench_df, n=3)
    freq = {
        (r.id_l, r.id_r): r.jaccard
        for r in jaccard_prefix_join_rs(
            tr, be, threshold=T, set_col="sh_arr"
        ).collect()
    }
    hashed = {
        (r.id_l, r.id_r): r.jaccard
        for r in jaccard_prefix_join_rs(
            tr, be, threshold=T, set_col="sh_arr", order_mode="hashed"
        ).collect()
    }
    truth = _rs_truth(train_df, bench_df, T)
    assert freq == truth
    assert hashed == truth
    assert truth  # the planted copies really qualify
    assert (0, 1000) in truth  # exact copy pair found
    assert not any(b == 1002 for (_, b) in truth)  # disjoint doc never


def test_jaccard_rs_bench_side_broadcasts(spark):
    """The candidate join must probe a BROADCAST bench prefix index —
    the train side may not shuffle for candidate generation (hashed
    order: the train side has no stats pass either, so its lineage up
    to the join is exchange-free)."""
    from icnarc_to_philips_linkage_spark.operators.dedup_scale import (
        jaccard_prefix_join_rs,
        shingle_sets,
    )

    train_df, bench_df = _rs_corpora(spark)
    out = jaccard_prefix_join_rs(
        shingle_sets(train_df, n=3),
        shingle_sets(bench_df, n=3),
        threshold=0.3,
        set_col="sh_arr",
        order_mode="hashed",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    # no shuffle anywhere in the hashed-mode candidate lineage: the only
    # exchanges are broadcasts plus the ids-distinct AFTER candidates
    first_join = plan.find("BroadcastHashJoin")
    assert first_join != -1


def test_jaccard_rs_degenerate_inputs(spark):
    """Empty bench side -> empty result with the output schema; bench
    docs shorter than the shingle width still compare (single-shingle
    fallback)."""
    from icnarc_to_philips_linkage_spark.operators.dedup_scale import (
        jaccard_prefix_join_rs,
        shingle_sets,
    )

    train_df, bench_df = _rs_corpora(spark)
    tr = shingle_sets(train_df, n=3)
    empty = shingle_sets(
        bench_df.filter(F.col("doc_id") < 0), n=3
    )
    out = jaccard_prefix_join_rs(tr, empty, threshold=0.3, set_col="sh_arr")
    assert out.columns == ["id_l", "id_r", "jaccard"]
    assert out.count() == 0

    short = spark.createDataFrame(
        [(2000, "alpha beta")], "doc_id long, text string"
    )  # < n tokens -> one joined shingle
    got = jaccard_prefix_join_rs(
        tr,
        shingle_sets(short, n=3),
        threshold=0.05,
        set_col="sh_arr",
    )
    assert got.count() == 0  # 'alpha beta' is not a trigram of any train doc
