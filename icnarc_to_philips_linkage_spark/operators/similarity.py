"""Similarity search over embedding columns (array<float>).

- ``cosine`` / ``dot``: higher-order-function expressions (zip_with +
  aggregate fold) — JVM-side, no UDF, exact left-to-right double
  accumulation (reproducible across engines).
- ``knn_brute_force``: baseline exact top-k — broadcast the query set,
  stream the corpus, reduce with a two-level partial top-k
  (``topk_per_key``): scored rows spread over queries × partitions
  reducers (no per-query skew), and only partitions × k rows per query
  reach the final merge.
- ``ivf_topk``: the scale path — a coarse quantizer (here: the stored
  cluster ``label``; in production k-means centroids) restricts each
  query to its nearest partition, cutting scan cost by the number of
  cells. Same pattern as FAISS IVF-Flat, expressed as two joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def norm_sq(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)


def cosine_with_norms(
    a: Column | str, b: Column | str, norm_sq_a: Column | str, norm_sq_b: Column | str
) -> Column:
    """Cosine with per-vector squared norms hoisted out of the pair loop:
    the higher-order folds are interpreted (not codegen'd), so computing
    each vector's norm once per ROW instead of once per PAIR cuts the
    fold work from 3 to 1 per pair. Arithmetic order matches ``cosine``
    exactly — dot / (sqrt(na) * sqrt(nb)) — so results are bit-identical
    (and oracle-identical)."""
    na = F.col(norm_sq_a) if isinstance(norm_sq_a, str) else norm_sq_a
    nb = F.col(norm_sq_b) if isinstance(norm_sq_b, str) else norm_sq_b
    return dot(a, b) / (F.sqrt(na) * F.sqrt(nb))


def topk_per_key(
    sims: DataFrame,
    key: str,
    k: int,
    sim_col: str = "cos_sim",
    id_col: str = "neighbor_id",
) -> DataFrame:
    """Exact top-k rows per key from a (key, id, sim) candidate table,
    ranked (sim DESC, id ASC), without a skewed per-key window.

    A plain ``Window.partitionBy(key)`` sends EVERY candidate row to
    |keys| reducers — with a handful of query vectors against a 100 TB
    corpus that is a few tasks sorting almost the whole corpus. Grouping
    level 1 on (key, spark_partition_id) instead spreads the same bytes
    over keys × partitions reducers, each sorting only one partition's
    slice of one key (the group is map-local, so the partial
    collect_list completes map-side); its final agg slices to k, and
    the level-2 merge shuffles just partitions × k rows per key.
    Results are exactly the global top-k (top-k merge is associative)
    with the same deterministic (−sim, id) ordering a window gives."""
    ranked = F.struct(
        (-F.col(sim_col)).alias("__neg"), F.col(id_col).alias(id_col)
    )
    partial = (
        sims.withColumn("__part", F.spark_partition_id())
        .groupBy(key, "__part")
        .agg(
            F.slice(F.array_sort(F.collect_list(ranked)), 1, k).alias("__top")
        )
    )
    merged = (
        partial.select(key, F.explode("__top").alias("r"))
        .groupBy(key)
        .agg(
            F.slice(F.array_sort(F.collect_list("r")), 1, k).alias("__top")
        )
    )
    return merged.select(key, F.explode("__top").alias("r")).select(
        key,
        F.col(f"r.{id_col}").alias(id_col),
        (-F.col("r.__neg")).alias(sim_col),
    )


def knn_brute_force(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Output: (query_id, neighbor_id, cos_sim) — similarity rounded to 6
    decimals and ranked on (rounded sim DESC, neighbor_id ASC) so the
    result set is deterministic under any execution order."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_sq(vec_col).alias("q_nsq"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_sq(vec_col).alias("c_nsq"),
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms("q_vec", "c_vec", "q_nsq", "c_nsq"), 6
            ).alias("cos_sim"),
        )
    )
    return topk_per_key(sims, "query_id", k)


def centroids_by_label(
    corpus: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Element-wise mean vector per cell: posexplode → (label, pos) avg →
    re-assemble ordered array. Two shuffles over |corpus|×dim rows —
    run once, cache/persist the (tiny) result."""
    exploded = corpus.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    means = exploded.groupBy(label_col, "pos").agg(
        F.avg(F.col("v").cast("double")).alias("m")
    )
    return (
        means.groupBy(label_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("m")))
            ).alias("pm")
        )
        .select(
            F.col(label_col),
            F.expr("transform(pm, x -> x.m)").alias("centroid"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: route each query to its nearest cell centroid
    (broadcast join against the tiny centroid table), then exact top-k
    inside that cell only — probing 1/|cells| of the corpus."""
    cents = centroids_by_label(corpus, label_col, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_sq(vec_col).alias("q_nsq"),
    )
    scored = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "q_vec",
        "q_nsq",
        F.col(label_col),
        F.round(cosine("q_vec", "centroid"), 6).alias("cent_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cent_sim"), F.asc(label_col)
    )
    routed = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "q_vec", "q_nsq", label_col)
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_sq(vec_col).alias("c_nsq"),
        F.col(label_col),
    )
    sims = (
        c.join(F.broadcast(routed), on=label_col)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            # q_nsq carried through routing: the fold runs once per
            # query row, not once per probed candidate pair
            F.round(
                cosine_with_norms("q_vec", "c_vec", "q_nsq", "c_nsq"),
                6,
            ).alias("cos_sim"),
        )
    )
    return topk_per_key(sims, "query_id", k)


def _hyperplane(plane_id: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: md5-derived components in
    [-1, 1). Engine-portable and seed-free (same planes every run)."""
    import hashlib

    comps = []
    for i in range(dim):
        h = hashlib.md5(f"rhlsh:{plane_id}:{i}".encode()).hexdigest()
        comps.append((int(h[:8], 16) / 0x7FFFFFFF) - 1.0)
    return comps


def rh_lsh_signature(
    vec_col: Column | str, planes: list[list[float]]
) -> Column:
    """Random-hyperplane LSH bucket id: bit p = sign(v · h_p). The planes
    are literal arrays — constant-folded, broadcast with the plan, no
    data pass to build them."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    sig = F.lit(0)
    for p, plane in enumerate(planes):
        lit = F.array(*[F.lit(x) for x in plane])
        bit = (dot(v, lit) > 0).cast("int")
        sig = sig + bit * (1 << p)
    return sig


def ann_rh_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed ANN: hash corpus and queries with the same
    hyperplanes, search only the query's bucket (cosine-similar vectors
    collide with probability (1 − θ/π)^planes). The bucket join replaces
    the cross join — at 100 TB the corpus is scanned once to bucket and
    the per-query probe is |corpus| / 2^planes on average. Recall is
    tunable via n_planes (fewer planes → bigger buckets → higher recall);
    multi-probe extensions hash with several plane sets and union."""
    planes = [_hyperplane(p, dim) for p in range(n_planes)]
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_sq(vec_col).alias("c_nsq"),
        rh_lsh_signature(vec_col, planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_sq(vec_col).alias("q_nsq"),
        rh_lsh_signature(vec_col, planes).alias("bucket"),
    )
    sims = (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms("q_vec", "c_vec", "q_nsq", "c_nsq"), 6
            ).alias("cos_sim"),
        )
    )
    return topk_per_key(sims, "query_id", k)


def ann_rh_lsh_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe variant of ``ann_rh_lsh``: each query probes its own
    bucket AND every Hamming-1 neighbor (one hyperplane vote flipped) —
    the standard recall repair for vectors near a cutting plane. The
    corpus is still hashed ONCE; only the (small, broadcast) query side
    fans out ×(1 + n_planes), so probe cost grows with the query batch,
    not the corpus. Deterministic, exact within the probed set."""
    planes = [_hyperplane(p, dim) for p in range(n_planes)]
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_sq(vec_col).alias("c_nsq"),
        rh_lsh_signature(vec_col, planes).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_sq(vec_col).alias("q_nsq"),
        rh_lsh_signature(vec_col, planes).alias("__home"),
    )
    # probe set = home bucket XOR {0, 1<<0, ..., 1<<(p-1)}
    flips = F.array(F.lit(0), *[F.lit(1 << p) for p in range(n_planes)])
    q_probes = q.select(
        "query_id",
        "q_vec",
        "q_nsq",
        F.explode(
            F.transform(flips, lambda m: F.col("__home").bitwiseXOR(m))
        ).alias("bucket"),
    )
    sims = (
        c.join(F.broadcast(q_probes), on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms("q_vec", "c_vec", "q_nsq", "c_nsq"), 6
            ).alias("cos_sim"),
        )
        # no pair dedup needed: a query's n+1 probe buckets are distinct
        # and a corpus vector lives in exactly one bucket
    )
    return topk_per_key(sims, "query_id", k)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked: only pairs within
    the same block (cluster label / LSH bucket) are compared — the
    standard way to keep pair generation linear-ish instead of O(n²).
    Output (id_a < id_b, cos_sim ≥ threshold)."""
    a = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        norm_sq(vec_col).alias("nsq_a"),
        F.col(block_col),
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        norm_sq(vec_col).alias("nsq_b"),
        F.col(block_col),
    )
    return (
        a.join(b, on=block_col)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_with_norms("vec_a", "vec_b", "nsq_a", "nsq_b"), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def recall_per_query(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query ANN recall rows — scalar-only output, so the frame is
    directly hash-matchable against a DuckDB oracle that recomputes
    BOTH sides in SQL (the brute-force truth and the deterministic
    LSH approximation are each exactly SQL-expressible).

    Both inputs are (query_id, neighbor_id) frames with UNIQUE pairs
    (top-k outputs — every in-repo producer). One LEFT join marks each
    truth pair hit/miss and one aggregation produces both the
    denominator and the hit count (r12 — was an inner-join subtree
    PLUS a separate totals aggregation, each consuming ``truth``: when
    the truth side is an unpersisted brute-force pass, that replayed
    the whole corpus scan twice). Queries missing from ``approx``
    still score 0 (their marks are all NULL). Output: (query_id,
    n_truth, n_hit, recall)."""
    t = truth.select("query_id", "neighbor_id")
    a = approx.select(
        "query_id", "neighbor_id", F.lit(1).alias("__m")
    )
    return (
        t.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.coalesce(F.sum("__m"), F.lit(0)).cast("long").alias("__h"),
        )
        .select(
            "query_id",
            "n_truth",
            F.col("__h").alias("n_hit"),
            F.round(F.col("__h") / F.col("n_truth"), 6).alias("recall"),
        )
    )


def recall_at_k(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """ANN quality evaluation: per-query recall of an approximate
    neighbor list against exact top-k ground truth, plus the macro mean
    — the measure-don't-guess harness for tuning plane counts / probe
    fan-outs / IVF cells at scale.

    Aggregate form of ``recall_per_query``. One row out: (n_queries,
    mean_recall); per-query detail on the ``per_query`` column as a
    sorted array of (query_id, recall) structs for bounded output."""
    per_q = recall_per_query(truth, approx).select("query_id", "recall")
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("recall"), 6).alias("mean_recall"),
        F.array_sort(
            F.collect_list(F.struct("query_id", "recall"))
        ).alias("per_query"),
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space, compare pairs ONLY within a cluster, and keep
    one representative per near-duplicate set.

    The clusterer here is the deterministic random-hyperplane signature
    (``rh_lsh_signature`` — literal planes folded into the plan), the
    reproducible stand-in for the paper's k-means step: both route each
    vector to exactly one cell so the pairwise stage is
    sum-over-cells |cell|², never corpus². The survivor rule is
    min-id-dominates: a vector is dropped iff some SMALLER id in its
    cell has cosine ≥ threshold — deterministic, single-pass, and
    exactly SQL-expressible (unlike a transitive-closure clustering,
    which ``near_dup_clusters`` already covers).

    Output: (vec_id, cluster, kept) for every corpus row.

    Scale: one corpus scan to hash (narrow), one self-join per cell
    keyed on the cluster id (shuffle on cluster), then a semi-join of
    dropped ids back — at 100 TB the knobs are n_planes (cells ≈
    n/2^planes ⇒ pairs per cell shrink 4× per extra plane) and the
    threshold. Skewed cells are AQE-splittable because the pair join
    keys on cluster alone.
    """
    from pyspark import StorageLevel

    planes = [_hyperplane(p, dim) for p in range(n_planes)]
    # persisted: three consumers (both self-join sides + the final
    # decorate) would otherwise re-scan the corpus and re-fold the
    # plane dot products three times — same trade as the minhash
    # shingle-set cache (plan-asserted there); spills to disk at scale
    hashed = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        norm_sq(vec_col).alias("__nsq"),
        rh_lsh_signature(vec_col, planes).alias("cluster"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = hashed.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("__nsq").alias("nsq_a"),
        "cluster",
    )
    b = hashed.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("__nsq").alias("nsq_b"),
        "cluster",
    )
    dropped = (
        a.join(b, on="cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(
                cosine_with_norms("vec_a", "vec_b", "nsq_a", "nsq_b"), 6
            )
            >= threshold
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        hashed.join(dropped.withColumn("__drop", F.lit(1)), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.col("__drop").isNull().alias("kept"),
        )
    )


def knn_graph_lsh(
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate k-NN GRAPH over the whole corpus — every vector gets
    its top-k bucket-mates (the first stage of graph-based dedup,
    label propagation, and HNSW-style index builds). Unlike
    ``ann_rh_lsh`` (small query batch, broadcast), BOTH sides here are
    the corpus: the self-join shuffles on the LSH bucket id — per-cell
    |cell|² pair generation like ``semantic_dedup``, never corpus², and
    the hashed frame is persisted so the corpus is scanned once for
    both join sides. The two-level ``topk_per_key`` reduce keeps only
    partitions×k rows per node out of the pair stream."""
    from pyspark import StorageLevel

    planes = [_hyperplane(p, dim) for p in range(n_planes)]
    hashed = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        norm_sq(vec_col).alias("__nsq"),
        rh_lsh_signature(vec_col, planes).alias("bucket"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = hashed.select(
        F.col(id_col).alias("node_id"),
        F.col(vec_col).alias("vec_a"),
        F.col("__nsq").alias("nsq_a"),
        "bucket",
    )
    b = hashed.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec_b"),
        F.col("__nsq").alias("nsq_b"),
        "bucket",
    )
    sims = (
        a.join(b, on="bucket")
        .filter(F.col("node_id") != F.col("neighbor_id"))
        .select(
            "node_id",
            "neighbor_id",
            F.round(
                cosine_with_norms("vec_a", "vec_b", "nsq_a", "nsq_b"), 6
            ).alias("cos_sim"),
        )
    )
    return topk_per_key(sims, "node_id", k)


def random_projection(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "jl",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim``
    dimensions: ``proj_j = Σ_i x_i · s_ij / √out_dim`` with a ±1 sign
    matrix derived from ``md5(salt:i:j)`` hex-digit parity — the
    fit-free dimensionality reduction you run BEFORE LSH/IVF at
    corpus scale (no training pass, no model state, reproducible on
    any engine from the salt alone).

    The sign matrix is in_dim×out_dim CONSTANTS, so it folds into the
    plan as literal arrays (computed with hashlib here; the oracle
    re-derives every sign from md5 IN SQL — two independent
    implementations of the same spec must agree). Projection is a
    map-side zip_with/aggregate fold per output dimension: zero
    shuffles, zero per-row hashing, scales with input bytes.
    Components round to 6dp after the exact-order fold (array order
    in both engines), keeping results engine-identical.

    Output: (id, proj array<double>[out_dim]).
    """
    import hashlib as _hashlib
    import math as _math

    if out_dim <= 0 or in_dim <= 0:
        raise ValueError("in_dim and out_dim must be positive")
    signs = [
        [
            1.0
            if int(
                _hashlib.md5(f"{salt}:{i}:{j}".encode()).hexdigest()[0], 16
            ) % 2 == 0
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]
    scale = _math.sqrt(out_dim)
    comps = [
        F.round(
            dot(
                F.col(vec_col),
                F.array(*[F.lit(s) for s in signs[j]]),
            )
            / F.lit(scale),
            6,
        )
        for j in range(out_dim)
    ]
    return df.select(F.col(id_col), F.array(*comps).alias("proj"))


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    trunc_dims: tuple[int, ...] = (16, 32),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka truncation evaluation (Kusupati et al. 2022): how much
    retrieval quality survives when vectors are cut to their first
    ``d`` dimensions? For each ``d`` in ``trunc_dims``, exact cosine
    top-k over the TRUNCATED vectors is scored against full-dimension
    top-k ground truth (``recall_per_query``), yielding one
    ``(trunc_dim, n_queries, mean_recall)`` row per candidate width.
    The measure-don't-guess gate before committing a cheaper index
    width at 100 TB: storage and ADC cost scale linearly in d, recall
    doesn't — this report shows where the knee is.

    Scale shape (r12 fused): ONE corpus pass scores every arm — the
    per-pair element products are computed once (``zip_with``) and
    each arm's dot is a fold over a PREFIX slice of that product
    array (bit-identical to dotting the sliced vectors: same products,
    same left-to-right fold), so truth and all truncation arms ride
    one broadcast-queries stream of the corpus (was 1 + |trunc_dims|
    full scans, each persisted). The per-arm top-k partials share one
    map-side (query, partition) aggregation; the merge reduces
    |parts|·k rows per query; recall is an array intersection on the
    merged per-query row (identical to the old pair join: top-k
    neighbor ids are distinct). Exactly the ``topk_per_key`` ranking —
    same structs, same array_sort, same slice.
    """
    if not trunc_dims:
        raise ValueError("trunc_dims must be non-empty")
    dims = list(trunc_dims)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_sq(vec_col).alias("q_nsq"),
        *[
            norm_sq(F.slice(F.col(vec_col), 1, d)).alias(f"q_nsq_{d}")
            for d in dims
        ],
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_sq(vec_col).alias("c_nsq"),
        *[
            norm_sq(F.slice(F.col(vec_col), 1, d)).alias(f"c_nsq_{d}")
            for d in dims
        ],
    )
    prods = F.zip_with(
        F.col("q_vec"),
        F.col("c_vec"),
        lambda x, y: x.cast("double") * y.cast("double"),
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__prods", prods)
    )

    def _fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)

    def _cos(dot_col, qn, cn):
        return F.round(dot_col / (F.sqrt(qn) * F.sqrt(cn)), 6)

    scored = pairs.select(
        "query_id",
        "neighbor_id",
        _cos(
            _fold(F.col("__prods")), F.col("q_nsq"), F.col("c_nsq")
        ).alias("__cos_full"),
        *[
            _cos(
                _fold(F.slice(F.col("__prods"), 1, d)),
                F.col(f"q_nsq_{d}"),
                F.col(f"c_nsq_{d}"),
            ).alias(f"__cos_{d}")
            for d in dims
        ],
    )

    def _ranked(cos_name):
        return F.struct(
            (-F.col(cos_name)).alias("__neg"),
            F.col("neighbor_id").alias("neighbor_id"),
        )

    arm_names = ["full"] + [str(d) for d in dims]
    partial = (
        scored.withColumn("__part", F.spark_partition_id())
        .groupBy("query_id", "__part")
        .agg(
            *[
                F.slice(
                    F.array_sort(F.collect_list(_ranked(f"__cos_{a}"))),
                    1,
                    k,
                ).alias(f"__t_{a}")
                for a in arm_names
            ]
        )
    )
    merged = partial.groupBy("query_id").agg(
        *[
            F.slice(
                F.array_sort(F.flatten(F.collect_list(f"__t_{a}"))), 1, k
            ).alias(f"__t_{a}")
            for a in arm_names
        ]
    )

    def _ids(name):
        return F.expr(f"transform({name}, x -> x.neighbor_id)")

    stats = merged.agg(
        F.count(F.lit(1)).alias("__nq"),
        F.sum(F.size("__t_full")).alias("__truth"),
        *[
            F.sum(
                F.size(F.array_intersect(_ids("__t_full"), _ids(f"__t_{d}")))
            ).alias(f"__hit_{d}")
            for d in dims
        ],
    )
    arms = F.array(
        *[
            F.struct(
                F.lit(d).alias("trunc_dim"),
                F.col("__nq").alias("n_queries"),
                F.round(
                    F.col(f"__hit_{d}") / F.col("__truth"), 6
                ).alias("mean_recall"),
            )
            for d in dims
        ]
    )
    return stats.select(F.inline(arms))


def sq8_train(
    corpus: DataFrame, vec_col: str = "embedding"
) -> tuple[list, list]:
    """Train an int8 scalar quantizer (faiss SQ8-style): per-dimension
    [min, max] over the corpus. One posexplode + dim-grain aggregation
    (the dimension key space is the array width — bounded, map-side
    combined); the trained bounds come back as dim driver floats (the
    k-means-centroid pattern: parameters ride plans as literals).
    EAGER: runs one Spark job."""
    rows = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("d")
        .collect()
    )
    return [float(r["mn"]) for r in rows], [float(r["mx"]) for r in rows]


def sq8_dequantized(
    df: DataFrame,
    mins: list,
    maxs: list,
    vec_col: str = "embedding",
    levels: int = 255,
) -> DataFrame:
    """Encode-then-decode through the trained scalar quantizer as ONE
    map expression: code = clamp(floor(L·(x−mn)/(mx−mn) + 0.5), 0, L),
    deq = mn + (code·(mx−mn))/L. floor(+0.5) (not round()) so both
    engines share one tie rule; constant dimensions decode to mn. The
    quantizer bounds fold in as literal arrays — no join, no shuffle."""
    mn_arr = F.array(*[F.lit(v) for v in mins])
    mx_arr = F.array(*[F.lit(v) for v in maxs])
    bounds = F.zip_with(
        mn_arr, mx_arr, lambda a, b: F.struct(a.alias("mn"), b.alias("mx"))
    )
    lv = F.lit(float(levels))

    def deq(x, s):
        code = F.least(
            F.greatest(
                F.floor(lv * (x - s["mn"]) / (s["mx"] - s["mn"]) + 0.5),
                F.lit(0.0),
            ),
            lv,
        )
        return F.when(
            s["mx"] > s["mn"], s["mn"] + (code * (s["mx"] - s["mn"])) / lv
        ).otherwise(s["mn"])

    return df.withColumn(vec_col, F.zip_with(F.col(vec_col), bounds, deq))


def sq8_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 255,
) -> DataFrame:
    """INT8 scalar-quantization retrieval evaluation: exact top-k over
    the DEQUANTIZED corpus (asymmetric ADC — queries stay full
    precision, the standard deployment) scored against full-precision
    ground truth, plus the quantizer's mean squared reconstruction
    error. The measure-don't-guess gate before committing 4×-smaller
    vectors at 100 TB (the scalar sibling of ``matryoshka_recall`` /
    the PQ family).

    Scale shape: training is one dim-grain aggregation; encode/decode
    is a literal-array map expression; the exact and dequantized arms
    share ONE broadcast-queries brute-force pass (r12 fused — was two
    full corpus streams): each pair scores cos(q, c) and cos(q,
    deq(c)) side by side, the per-arm top-k partials share one
    map-side aggregation, and recall is an array intersection on the
    merged per-query row (identical to the pair join: top-k ids are
    distinct). MSE rides per-row 6dp-rounded errors ×1e6 as exact
    decimal sums — partition order cannot perturb it.

    Output: one row ``(n_queries, mean_recall, mse)``.
    """
    mins, maxs = sq8_train(corpus, vec_col)
    base = sq8_dequantized(
        corpus.withColumn("__orig", F.col(vec_col)), mins, maxs,
        vec_col, levels,
    )
    c = base.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__orig").alias("c_vec"),
        norm_sq("__orig").alias("c_nsq"),
        F.col(vec_col).alias("d_vec"),
        norm_sq(vec_col).alias("d_nsq"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_sq(vec_col).alias("q_nsq"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms("q_vec", "c_vec", "q_nsq", "c_nsq"), 6
            ).alias("__cos_t"),
            F.round(
                cosine_with_norms("q_vec", "d_vec", "q_nsq", "d_nsq"), 6
            ).alias("__cos_a"),
        )
    )

    def _ranked(cos_name):
        return F.struct(
            (-F.col(cos_name)).alias("__neg"),
            F.col("neighbor_id").alias("neighbor_id"),
        )

    partial = (
        scored.withColumn("__part", F.spark_partition_id())
        .groupBy("query_id", "__part")
        .agg(
            *[
                F.slice(
                    F.array_sort(F.collect_list(_ranked(f"__cos_{a}"))),
                    1,
                    k,
                ).alias(f"__t_{a}")
                for a in ("t", "a")
            ]
        )
    )
    merged = partial.groupBy("query_id").agg(
        *[
            F.slice(
                F.array_sort(F.flatten(F.collect_list(f"__t_{a}"))), 1, k
            ).alias(f"__t_{a}")
            for a in ("t", "a")
        ]
    )
    ids_t = F.expr("transform(__t_t, x -> x.neighbor_id)")
    ids_a = F.expr("transform(__t_a, x -> x.neighbor_id)")
    rec = merged.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(
            F.sum(F.size(F.array_intersect(ids_t, ids_a)))
            / F.sum(F.size("__t_t")),
            6,
        ).alias("mean_recall"),
    )
    err = F.round(
        F.aggregate(
            F.zip_with(
                F.col("__orig"),
                F.col(vec_col),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    mse = (
        sq8_dequantized(
            corpus.withColumn("__orig", F.col(vec_col)),
            mins,
            maxs,
            vec_col,
            levels,
        )
        .select(F.round(err * 1e6).cast("decimal(38,0)").alias("__e"))
        .agg(
            F.round(
                F.sum("__e").cast("double") / 1e6 / F.count(F.lit(1)), 6
            ).alias("mse")
        )
    )
    return rec.crossJoin(F.broadcast(mse))


def kcenter_coreset(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; the
    "k-center greedy" of active-learning / data-curation pipelines,
    e.g. Sener & Savarese 2018): seed with the minimum id, then k−1
    times pick the point FARTHEST from its nearest already-selected
    center — a 2-approximation of the optimal covering radius, and
    the standard diversity-maximizing subset for labeling budgets.

    Scale shape: the running state is one column of per-point
    min-squared-distances; each round crossJoins the corpus against
    the BROADCAST 1-row new center (map-only distance update,
    ``least`` with the running min) and takes the next argmax with a
    TakeOrdered-style (dist DESC, id ASC) limit 1 — k passes over the
    corpus, each eagerly localCheckpointed so the plan stays k-bounded
    instead of doubling per round (the MMR lesson). Selected ids are
    excluded by an anti-join against the ≤k-row center set. Distances
    round to the 1e-6 grid before every comparison, so the greedy
    trajectory is engine-exact (the kNN ordering recipe).

    Output k rows: ``(round, vec_id, dist_at_selection)`` — the
    squared distance from the selected point to its nearest prior
    center (NULL for the seed); round r's value is the covering
    radius² of the first r−1 centers.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    base = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        norm_sq(vec_col).alias("__nsq"),
    ).persist()
    seed = base.orderBy("__id").limit(1)
    picks = [
        seed.select(
            F.lit(1).alias("round"),
            F.col("__id").alias(id_col),
            F.lit(None).cast("double").alias("dist_at_selection"),
        )
    ]

    def _dist_to() -> Column:
        # ||a − c||² = nsq_a + nsq_c − 2·a·c against whatever center
        # frame is crossJoined in (__c_v/__c_nsq); the dot mirrors the
        # oracle's list_sum — identical fold order, identical doubles
        return F.round(
            F.col("__nsq")
            + F.col("__c_nsq")
            - F.lit(2.0) * dot(F.col("__v"), F.col("__c_v")),
            6,
        )

    state = base.crossJoin(
        F.broadcast(
            seed.select(
                F.col("__v").alias("__c_v"), F.col("__nsq").alias("__c_nsq")
            )
        )
    ).select("__id", "__v", "__nsq", _dist_to().alias("__mind"))
    state = state.localCheckpoint(eager=True)
    for r in range(2, k + 1):
        chosen = F.broadcast(_union_ids(picks, id_col))
        # materialize the 1-row pick: without this, every later
        # round's anti-join and the final union RE-RUN this argmax
        # over the full state frame (~k²/2 corpus passes instead of k)
        pick = (
            state.join(chosen, "__id", "left_anti")
            .orderBy(F.desc("__mind"), F.asc("__id"))
            .limit(1)
            .localCheckpoint(eager=True)
        )
        picks.append(
            pick.select(
                F.lit(r).alias("round"),
                F.col("__id").alias(id_col),
                F.col("__mind").alias("dist_at_selection"),
            )
        )
        if r < k:
            new_c = F.broadcast(
                pick.select(
                    F.col("__v").alias("__c_v"),
                    F.col("__nsq").alias("__c_nsq"),
                )
            )
            state = state.crossJoin(new_c).select(
                "__id",
                "__v",
                "__nsq",
                F.least(F.col("__mind"), _dist_to()).alias("__mind"),
            )
            state = state.localCheckpoint(eager=True)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def _union_ids(picks: list, id_col: str) -> DataFrame:
    out = picks[0].select(F.col(id_col).alias("__id"))
    for p in picks[1:]:
        out = out.unionByName(p.select(F.col(id_col).alias("__id")))
    return out


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-k most-similar corpus vectors with a DIFFERENT
    label — the near-miss impostors that teach a metric model the
    boundary (random negatives are trivially separable; hard ones
    carry the gradient). Exactly ``knn_brute_force``'s shape — corpus
    streams against the broadcast query set, two-level top-k reduce —
    with the label-mismatch filter applied before ranking.

    Output: ``(query_id, query_label, neighbor_id, neighbor_label,
    cos_sim)`` ranked (sim DESC, id ASC).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("q_vec"),
        norm_sq(vec_col).alias("q_nsq"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("c_vec"),
        norm_sq(vec_col).alias("c_nsq"),
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("query_label") != F.col("neighbor_label"))
        )
        .select(
            "query_id",
            "query_label",
            F.col("neighbor_id"),
            "neighbor_label",
            F.round(
                cosine_with_norms("q_vec", "c_vec", "q_nsq", "c_nsq"), 6
            ).alias("cos_sim"),
        )
    )
    ranked = topk_per_key(sims, "query_id", k)
    # re-attach labels WITHOUT re-running the scoring crossJoin: the
    # k·|queries| ranked frame broadcasts onto the corpus's (id, label)
    # projection (map-only), and the query labels are a tiny broadcast
    nb_labels = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
    )
    q_labels = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
    )
    return (
        nb_labels.join(F.broadcast(ranked), "neighbor_id")
        .join(F.broadcast(q_labels), "query_id")
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "cos_sim",
        )
    )


def margin_bitext_mine(
    left: DataFrame,
    right: DataFrame,
    knn: int = 4,
    top_m: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019, the
    ratio-margin criterion behind CCMatrix/LASER parallel-corpus
    mining): score a candidate pair (x ∈ left, y ∈ right) by its
    cosine RELATIVE to what each side's nearest neighbors score —
    ``margin(x,y) = cos(x,y) / ((avg_{z∈NNk(x)} cos(x,z) +
    avg_{z∈NNk(y)} cos(y,z)) / 2)`` — which suppresses hub vectors
    that are "close to everything" and is the standard mined-pair
    filter for translation-pair harvesting.

    Both NN averages come from ONE scored pair frame: the left side
    (the query language) broadcasts — mining is per-batch over a
    bounded query slice, like ``knn_brute_force`` — and the right
    side's neighbor statistics aggregate the same frame by candidate
    (at full-corpus scale you'd read them off the persisted kNN graph
    / ANN index instead; the margin arithmetic is identical).

    Engine-exactness: cosines round to the 1e-6 grid then become
    INTEGER micro-units, so both NN sums are exact and the margin is
    a fixed expression over exact integers — one double division
    chain, rounded to 6dp, bit-reproducible in the oracle. Returns
    the top ``top_m`` candidates per left vector:
    ``(query_id, neighbor_id, cos_sim, margin)``.
    """
    q = left.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm_sq(vec_col).alias("q_nsq"),
    )
    c = right.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm_sq(vec_col).alias("c_nsq"),
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_with_norms("q_vec", "c_vec", "q_nsq", "c_nsq"), 6
            ).alias("cos_sim"),
        )
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.round(F.col("cos_sim") * F.lit(1e6)).cast("long").alias("__ci"),
        )
    )
    # pairs feeds THREE consumers (both NN-average aggregations and
    # the final margin join); unpersisted, each replayed the corpus
    # scan + cosine scoring (r12: measured as three single-task corpus
    # stages). The cached frame is 4 scalars per (query, candidate)
    # pair — the bounded per-batch mining working set, no vectors.
    from pyspark import StorageLevel

    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    x_nn = (
        topk_per_key(pairs, "query_id", knn)
        .groupBy("query_id")
        .agg(
            F.sum(
                F.round(F.col("cos_sim") * F.lit(1e6)).cast("long")
            ).alias("__sx"),
            F.count(F.lit(1)).alias("__kx"),
        )
    )
    y_nn = (
        topk_per_key(pairs, "neighbor_id", knn, id_col="query_id")
        .groupBy("neighbor_id")
        .agg(
            F.sum(
                F.round(F.col("cos_sim") * F.lit(1e6)).cast("long")
            ).alias("__sy"),
            F.count(F.lit(1)).alias("__ky"),
        )
    )
    denom = (
        F.col("__sx").cast("double") / F.col("__kx")
        + F.col("__sy").cast("double") / F.col("__ky")
    ) * F.lit(0.5)
    scored = (
        pairs.join(F.broadcast(x_nn), "query_id")
        .join(y_nn, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.when(
                denom != 0,
                F.round(F.col("__ci").cast("double") / denom, 6),
            ).alias("margin"),
        )
    )
    ranked = topk_per_key(
        scored.filter(F.col("margin").isNotNull()),
        "query_id",
        top_m,
        sim_col="margin",
    )
    # reattach the raw cosine: the ranked frame is top_m × |left| rows,
    # so it broadcasts onto the pair frame (map-only)
    return pairs.join(
        F.broadcast(ranked), ["query_id", "neighbor_id"]
    ).select("query_id", "neighbor_id", "cos_sim", "margin")


def maxsim_score(
    queries: DataFrame,
    corpus: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-vector late-interaction scoring (the ColBERT MaxSim
    operator, Khattab & Zaharia 2020): a QUERY is a SET of vectors,
    a candidate is a GROUP of vectors, and the score is
    ``Σ_{q ∈ Q} max_{d ∈ group} cos(q, d)`` — each query vector finds
    its best-matching group vector independently, the standard
    retrieval upgrade when one pooled embedding blurs multi-aspect
    content.

    Scale shape: the query set broadcasts onto the corpus ONCE (the
    ``knn_brute_force`` pattern); the per-(group, query-vector) max
    and the per-group sum are two keyed aggregations whose grains are
    |groups|·|Q| and |groups| — bounded by parameters, not corpus
    size. Cosines round to the 1e-6 grid and become integer
    micro-units before the cross-query-vector sum, so group scores
    are exact integer sums (order-independent, oracle-identical).

    Output per group: ``(group, n_vectors, score)`` where score is
    the MaxSim sum over the query set.
    """
    q = queries.select(
        F.col(id_col).alias("__qid"),
        F.col(vec_col).alias("q_vec"),
        norm_sq(vec_col).alias("q_nsq"),
    )
    c = corpus.select(
        F.col(group_col).alias("__g"),
        F.col(vec_col).alias("c_vec"),
        norm_sq(vec_col).alias("c_nsq"),
    )
    pairs = c.crossJoin(F.broadcast(q)).select(
        "__g",
        "__qid",
        F.round(
            cosine_with_norms("q_vec", "c_vec", "q_nsq", "c_nsq"), 6
        ).alias("__cos"),
    )
    best = pairs.groupBy("__g", "__qid").agg(
        F.max(F.round(F.col("__cos") * F.lit(1e6)).cast("long")).alias(
            "__ci"
        )
    )
    sizes = c.groupBy("__g").agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        best.groupBy("__g")
        .agg(
            F.round(
                F.sum("__ci").cast("double") / F.lit(1e6), 6
            ).alias("score")
        )
        .join(F.broadcast(sizes), "__g")
        .select(F.col("__g").alias(group_col), "n_vectors", "score")
    )
