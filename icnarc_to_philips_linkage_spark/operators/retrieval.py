"""Lexical retrieval over the document corpus: BM25 keyword search and
shingle-containment scoring.

These complete the corpus-query surface next to the ANN family
(operators/similarity.py, pq.py): embeddings answer "semantically
near", BM25 answers "matches these terms", containment answers "is one
document substantially inside another" (quotation / partial-copy
detection, the asymmetric cousin of Jaccard near-dup).

Scale shapes:
- ``bm25_search``: only postings for the QUERY terms ever shuffle — the
  per-token explode is filtered map-side to the query vocabulary before
  the (doc, term) aggregation, so corpus size drives scan cost only.
  Document frequencies (≤ |query| rows) and the (N, avgdl) scalar row
  are broadcast. Final top-k is TakeOrderedAndProject, no global sort.
- ``containment_pairs``: candidate pairs come from sharing at least one
  word-n-gram (the same bucketed self-join shape as the LSH band join —
  never all-pairs); intersection counts ride the same join, and set
  sizes are map-side projections joined on the bounded per-doc key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from icnarc_to_philips_linkage_spark.operators.text import shingles, tokens


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 (Robertson/Lucene variant) top-k documents for a bag of
    query terms: ``score(d) = Σ_t idf(t) · tf·(k1+1) /
    (tf + k1·(1−b+b·dl/avgdl))`` with ``idf = ln(1 + (N−df+0.5)/(df+0.5))``.

    The query terms are LITERALS, so per-document term frequencies are
    map-side higher-order-function projections (``size(filter(toks,
    x -> x = t))``) — no postings table, no explode, no (doc, term)
    shuffle. The whole plan is: one corpus projection, one 1-row
    aggregate (N, avgdl, and every term's document frequency together)
    broadcast back, a codegen scoring projection, and a
    TakeOrderedAndProject top-k. At 100 TB that is two scans and zero
    wide shuffles.

    Per-term weights are rounded to 6dp before the per-doc sum and the
    summed score rounded again, keeping the ranking reproducible across
    engines. Ties broken by ascending id. Returns (id, score, n_hits).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    for t in query_terms:
        if "'" in t or "\\" in t:
            raise ValueError(f"unsupported character in query term: {t!r}")
    tf_cols = [
        F.expr(f"size(filter(_toks, x -> x = '{t}'))").alias(f"_tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    base = df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(F.col(id_col), F.size("_toks").alias("dl"), *tf_cols)
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
            for i in range(len(query_terms))
        ],
    )
    tfs = [F.col(f"_tf_{i}") for i in range(len(query_terms))]
    any_hit = tfs[0] if len(tfs) == 1 else F.greatest(*tfs)
    hits = base.filter(any_hit > 0).crossJoin(F.broadcast(stats))

    def _w(i: int):
        tf = F.col(f"_tf_{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"_df_{i}") + F.lit(0.5))
            / (F.col(f"_df_{i}") + F.lit(0.5))
        )
        tf_part = (
            tf
            * (F.lit(k1) + 1.0)
            / (
                tf
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            )
        )
        return F.when(tf > 0, F.round(idf * tf_part, 6)).otherwise(F.lit(0.0))

    score = _w(0)
    n_hits = (F.col("_tf_0") > 0).cast("long")
    for i in range(1, len(query_terms)):
        score = score + _w(i)
        n_hits = n_hits + (F.col(f"_tf_{i}") > 0).cast("long")
    return (
        hits.select(
            F.col(id_col),
            F.round(score, 6).alias("score"),
            n_hits.alias("n_hits"),
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(top_k)
    )


def write_postings_index(
    docs: DataFrame,
    table_name: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 64,
) -> None:
    """Persist the corpus as a BM25-ready inverted index: a postings
    table (term, id, tf, dl) BUCKETED by term plus a 1-row stats table
    (n_docs, avgdl) under ``<table_name>_stats``.

    This is the scale path past ``bm25_search``'s literal-folding
    boundary (SCALE.md): when query term sets are data (thousands of
    terms, per-user vocabularies) rather than plan constants, fold-in
    stops working — instead pay the index layout once at ingest.
    Bucketing by term stores the postings pre-hash-partitioned on the
    probe join key (the ``write_lsh_index`` pattern); the document
    length rides on each posting row (Lucene-norm style) so probes
    never join back to the corpus."""
    toks = docs.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(
        F.col(id_col),
        F.size("_toks").alias("dl"),
        F.explode("_toks").alias("term"),
    )
    postings = toks.groupBy("term", id_col).agg(
        F.count(F.lit(1)).alias("tf"),
        F.first("dl").alias("dl"),
    )
    (
        postings.write.mode("overwrite")
        .bucketBy(buckets, "term")
        .sortBy("term")
        .option("path", path)
        .format("parquet")
        .saveAsTable(table_name)
    )
    # Stats derive from the postings just WRITTEN (one (id, dl) row per
    # doc via first-per-id) — no second tokenize+scan of the corpus.
    # Docs with no tokens produce no postings and therefore don't count
    # toward n_docs/avgdl; they can't match any query either.
    per_doc = (
        docs.sparkSession.table(table_name)
        .groupBy(id_col)
        .agg(F.first("dl").alias("dl"))
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    (
        stats.write.mode("overwrite")
        .option("path", path + "_stats")
        .format("parquet")
        .saveAsTable(table_name + "_stats")
    )


def bm25_query_index(
    spark,
    table_name: str,
    query_terms: DataFrame,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
    max_query_terms: int = 100_000,
) -> DataFrame:
    """BM25 top-k against a persisted postings index for a DATA-side
    term set (a 1-column ``term`` DataFrame).

    The term set is collected (bounded by ``max_query_terms`` — queries
    are small relative to the corpus by definition) and applied BOTH as
    an ``isin`` pushdown predicate — the term-sorted parquet layout
    row-group-skips non-matching postings — and as a broadcast join.
    The corpus-side postings never shuffle: document frequencies and
    hit scoring both read the bucketed table; the only exchange is the
    per-doc score aggregation over matching postings. Same scoring and
    rounding discipline as ``bm25_search`` (parity-tested)."""
    terms = [r["term"] for r in query_terms.select("term").distinct().collect()]
    if len(terms) > max_query_terms:
        raise ValueError(
            f"{len(terms)} query terms exceed max_query_terms="
            f"{max_query_terms}; split the query or raise the bound"
        )
    post = spark.table(table_name).filter(F.col("term").isin(terms))
    stats = spark.table(table_name + "_stats")
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_part = (
        F.col("tf")
        * (F.lit(k1) + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        post.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.round(idf * tf_part, 6).alias("w"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.round(F.sum("w"), 6).alias("score"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(top_k)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Shingle-containment candidate pairs: for documents sharing at
    least one word-n-gram, ``containment(a→b) = |S(a)∩S(b)| / |S(a)|``
    over distinct n-gram shingle sets. Asymmetric by design — a short
    quotation has high containment in its source but low Jaccard.
    Emits both directions' scores once per unordered pair (a < b),
    filtered on max(containment) ≥ threshold; 6dp-rounded.
    """
    grams = df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(F.col(id_col), F.explode(shingles("_toks", n)).alias("shingle"))
    sizes = df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(F.col(id_col), F.size(shingles("_toks", n)).alias("n_grams"))
    a = grams.select(F.col(id_col).alias("id_a"), "shingle")
    bb = grams.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(bb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"),
                                F.col("n_grams").alias("size_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"),
                           F.col("n_grams").alias("size_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.round(F.col("n_common") / F.col("size_a"), 6).alias("cont_a_in_b"),
            F.round(F.col("n_common") / F.col("size_b"), 6).alias("cont_b_in_a"),
        )
    )
    return out.filter(
        F.greatest("cont_a_in_b", "cont_b_in_a") >= F.lit(threshold)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top_k: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of N rankers: ``score(d) = Σ_r 1/(k +
    rank_r(d))`` over the rankers that returned d — the standard
    hybrid-retrieval combiner (lexical BM25 + dense ANN), robust to
    incomparable score scales because only RANKS enter. Each input
    must carry ``rank_col`` (1-based within that ranker).

    Determinism: each reciprocal term is rounded to 9dp and summed as
    exact decimal, so the fused score is independent of both engine
    and union order; ties break on ascending id. Precondition: each
    ranker lists a document AT MOST once (a duplicate would double-
    count its reciprocal term). The inputs are top-k lists
    (parameter-bounded), so the fusion aggregates k·N rows —
    driver-scale work regardless of corpus size."""
    parts = [
        r.select(
            F.col(id_col),
            F.round(1.0 / (F.lit(k) + F.col(rank_col)), 9)
            .cast("decimal(12,9)")
            .alias("__term"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy(id_col)
        .agg(
            F.sum("__term").cast("double").alias("rrf_score"),
            F.count(F.lit(1)).alias("n_rankers"),
        )
        .orderBy(F.desc("rrf_score"), F.col(id_col))
        .limit(top_k)
    )


def ql_search(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    mu: float = 2000.0,
    top_k: int = 20,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval (Ponte & Croft
    1998; Zhai & Lafferty 2001) — the language-model ranking function
    next to ``bm25_search``:

        score(d) = Σ_t ln( (tf_t(d) + μ·p(t|C)) / (|d| + μ) ),
        p(t|C) = cf_t / total_tokens

    Smoothing means every document scores against every query term
    (absent terms contribute the collection prior), the property that
    makes QL calibrated across query lengths where raw ML estimates
    zero out. Terms unseen in the whole collection carry weight 0
    (their ln is undefined and they cannot discriminate).

    Same two-scan zero-wide-shuffle plan as ``bm25_search``: query
    terms are literals (per-doc tf via map-side array filters), ONE
    1-row aggregate collects N, total token count, and every term's
    collection frequency together, broadcast back into a codegen
    scoring projection, TakeOrderedAndProject top-k. Per-term weights
    round to 6dp before the fixed-order sum; the summed score rounds
    again (the BM25 ln precedent); ties break by ascending id.

    Output: ``(id, score, n_hits)`` — n_hits counts query terms
    present in the document; smoothing scores hit-less documents too.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    for t in query_terms:
        if "'" in t or "\\" in t:
            raise ValueError(f"unsupported character in query term: {t!r}")
    if mu <= 0:
        raise ValueError("mu must be positive")
    tf_cols = [
        F.expr(f"size(filter(_toks, x -> x = '{t}'))").alias(f"_tf_{i}")
        for i, t in enumerate(query_terms)
    ]
    base = df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(F.col(id_col), F.size("_toks").alias("dl"), *tf_cols)
    stats = base.agg(
        F.sum(F.col("dl").cast("long")).alias("total_tokens"),
        *[
            F.sum(F.col(f"_tf_{i}").cast("long")).alias(f"_cf_{i}")
            for i in range(len(query_terms))
        ],
    )
    scored_base = base.crossJoin(F.broadcast(stats))

    def _w(i: int):
        tf = F.col(f"_tf_{i}").cast("double")
        cf = F.col(f"_cf_{i}").cast("double")
        p_c = cf / F.col("total_tokens").cast("double")
        w = F.log(
            (tf + F.lit(mu) * p_c)
            / (F.col("dl").cast("double") + F.lit(mu))
        )
        return F.when(cf > 0, F.round(w, 6)).otherwise(F.lit(0.0))

    score = _w(0)
    n_hits = (F.col("_tf_0") > 0).cast("long")
    for i in range(1, len(query_terms)):
        score = score + _w(i)
        n_hits = n_hits + (F.col(f"_tf_{i}") > 0).cast("long")
    return (
        scored_base.select(
            F.col(id_col),
            F.round(score, 6).alias("score"),
            n_hits.alias("n_hits"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(top_k)
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance rerank: per query, greedily select
    ``k`` of the ``pool`` nearest candidates maximizing
    ``lam·sim(q,d) − (1−lam)·max_{s∈selected} sim(d,s)`` — the standard
    diversity-aware context/result selector (Carbonell & Goldstein
    1998). Near-duplicate passages that all match the query stop
    crowding out the second topic.

    Scale shape: relevance candidates come from the exact
    ``knn_brute_force`` scan (corpus streams once, query side
    broadcast); everything after operates on the POOLED frame —
    |queries|·pool rows — so the greedy loop's ``k`` unrolled rounds
    (each a bounded join + per-query argmax) never touch the corpus
    again. Pairwise candidate similarities are |queries|·pool² rows,
    parameter-bounded. The selection is inherently sequential in k;
    unrolling k DataFrame rounds keeps it JVM-side and exactly
    reproducible rather than hiding a Python loop per group.

    Determinism: relevance and pair similarities round to 6dp, then
    the MMR score is computed in SCALED INTEGERS (the picorank
    technique from operators/graph.py): with ``lam = p/q`` exactly
    (``lam`` must be an exact decimal, e.g. 0.7 = 7/10), each
    similarity becomes micro-units ``round(sim · 1e6)`` and the score
    ``p·rel_u − (q−p)·pen_u`` — pure long arithmetic, so the greedy
    argmax (score DESC, candidate id ASC) is bit-identical across
    engines and partition counts. A double weight would put
    ``0.7 × (1e-6-grid)`` values exactly on the 1e-6 HALF boundary,
    where JVM (shortest-repr HALF_UP) and binary-double rounding
    disagree — measured, not hypothetical. The reported ``mmr_score``
    divides the integer score back out: ``score_u / (q·1e6)``.

    Output: ``(query_id, rank, neighbor_id, cos_sim, mmr_score)``,
    ``rank`` in 1..k (fewer if the pool is smaller).
    """
    from fractions import Fraction

    from icnarc_to_philips_linkage_spark.operators.similarity import (
        cosine_with_norms,
        knn_brute_force,
    )

    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    frac = Fraction(str(lam))
    if frac.denominator > 1_000_000:
        raise ValueError("lam must be an exact short decimal (e.g. 0.7)")
    p, q = frac.numerator, frac.denominator
    # every frame below is parameter-bounded (|queries|·pool or
    # |queries|·pool²) — coalesce to ONE partition before persisting so
    # the k greedy rounds schedule 1 task per stage instead of
    # spark.sql.shuffle.partitions tasks over a few hundred rows
    # (measured round-11: ~7 s → ~2 s at sf0.1, identical results; the
    # corpus-touching scans above the coalesce keep full parallelism)
    cands = knn_brute_force(
        corpus, queries, k=pool, id_col=id_col, vec_col=vec_col
    ).coalesce(1).persist()
    cv = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__v"),
    )
    # pooled frame is |queries|·pool rows — broadcast it against the
    # corpus so the vector re-attach never shuffles the big side
    with_vec = (
        cv.join(F.broadcast(cands), cands["neighbor_id"] == cv["__cid"])
        .select(
            "query_id", "neighbor_id", "cos_sim",
            F.col("__v").alias("__vec"),
        )
        .withColumn("__nsq", F.aggregate(
            F.transform("__vec", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x,
        ))
        # repartition(1), NOT coalesce(1): there is no shuffle boundary
        # between the corpus scan and this point (scan -> broadcast join
        # -> project), so coalesce(1) would collapse the corpus-side
        # scan itself into a single task.  repartition inserts a shuffle
        # above the scan — the scan/join stays corpus-parallel and only
        # the tiny |queries|·pool-row output lands on one partition.
        .repartition(1)
        .persist()
    )
    a = with_vec.select(
        "query_id",
        F.col("neighbor_id").alias("a_id"),
        F.col("__vec").alias("a_vec"),
        F.col("__nsq").alias("a_nsq"),
    )
    b = with_vec.select(
        "query_id",
        F.col("neighbor_id").alias("b_id"),
        F.col("__vec").alias("b_vec"),
        F.col("__nsq").alias("b_nsq"),
    )
    psim = (
        a.join(b, "query_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id", "a_id", "b_id",
            F.round(
                cosine_with_norms("a_vec", "b_vec", "a_nsq", "b_nsq"), 6
            ).alias("pair_sim"),
        )
        .coalesce(1)
        .persist()
    )

    # micro-unit integer views: sims are already on the 1e-6 grid
    # (6dp-rounded doubles), so ROUND(x·1e6) recovers the exact long
    u_cands = cands.withColumn(
        "__rel_u", F.round(F.col("cos_sim") * 1_000_000).cast("long")
    )
    u_psim = psim.withColumn(
        "__ps_u", F.round(F.col("pair_sim") * 1_000_000).cast("long")
    )
    scale = float(q * 1_000_000)

    def _argmax(scored: DataFrame, rank: int) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.desc("__score_u"), F.asc("neighbor_id")
        )
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "query_id", F.lit(rank).alias("rank"), "neighbor_id",
                "cos_sim",
                (F.col("__score_u").cast("double") / F.lit(scale)).alias(
                    "mmr_score"
                ),
                "__score_u",
            )
        )

    def _pin(df: DataFrame) -> DataFrame:
        # sel re-enters the NEXT round three times (anti-join, penalty
        # join, union), so without LOGICAL-plan truncation the plan
        # doubles per round and Catalyst re-optimization dominates
        # (measured: rounds 2..5 at 1.5/1.7/3.6/8.5 s with persist
        # alone — persist caches DATA but every round still re-analyzes
        # the full history). localCheckpoint reroots the plan at the
        # materialized ≤ |queries|·k-row frame — the graph.pagerank
        # iteration pattern. coalesce(1) first: checkpointing a
        # 32-partition tiny frame costs 32 tasks per round.
        return df.coalesce(1).localCheckpoint(eager=True)

    sel = _pin(_argmax(
        u_cands.withColumn("__score_u", F.lit(p) * F.col("__rel_u")), 1
    ))
    for r in range(2, k + 1):
        # broadcast the ≤ |queries|·(r−1)-row selected set and the
        # pool-bounded penalty table: every per-round join is then
        # shuffle-free (BroadcastHashJoin over the 1-partition pool)
        rem = u_cands.join(
            F.broadcast(sel.select("query_id", "neighbor_id")),
            ["query_id", "neighbor_id"],
            "left_anti",
        )
        pen = (
            u_psim.join(
                F.broadcast(
                    sel.select(
                        "query_id", F.col("neighbor_id").alias("b_id")
                    )
                ),
                ["query_id", "b_id"],
            )
            .groupBy("query_id", F.col("a_id").alias("neighbor_id"))
            .agg(F.max("__ps_u").alias("__pen_u"))
        )
        scored = rem.join(
            F.broadcast(pen), ["query_id", "neighbor_id"], "left"
        ).select(
            "query_id", "neighbor_id", "cos_sim",
            (
                F.lit(p) * F.col("__rel_u")
                - F.lit(q - p) * F.coalesce("__pen_u", F.lit(0))
            ).alias("__score_u"),
        )
        sel = _pin(sel.unionByName(_argmax(scored, r)))
    return sel.drop("__score_u")


def rocchio_prf_search(
    docs: DataFrame,
    query_terms: list[str],
    fb_k: int = 10,
    expand_k: int = 5,
    beta: float = 0.5,
    exclude_terms: tuple[str, ...] = (),
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Pseudo-relevance feedback retrieval (Rocchio 1971, the
    two-pass PRF that RM3/anserini ship as the default quality
    upgrade over plain BM25): run the original query, take the top
    ``fb_k`` documents as presumed-relevant feedback, pick the
    ``expand_k`` terms that best characterize them (feedback term
    frequency × BM25 idf, minus the original query and an exclusion
    lexicon), then re-score the corpus with the expanded weighted
    query — original terms at weight 1.0, expansion terms at ``beta``.

    Scale shape: pass 1 is ``bm25_search`` (query-literal fold-in, two
    scans, zero wide shuffles). Expansion-term statistics need one
    (doc, term) aggregation — VOCABULARY-bounded, the ``tfidf`` shape
    — with the feedback-doc slice selected by a broadcast semi-join
    (fb_k rows). Pass 2 joins the postings grain against the ≤
    |query|+expand_k weighted-term broadcast, so again only matching
    postings shuffle, and final selection is TakeOrderedAndProject.
    Everything between is 6dp-rounded before ranking (ties by term /
    id ascending), so feedback docs, expansion terms, and the final
    list reproduce exactly in the DuckDB oracle.

    Output: ``(doc_id, score, n_hits)`` — n_hits counts matched
    DISTINCT query terms (original + expansion).
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    # Dedupe (ADVICE r9): a repeated query term would land twice in
    # the weighted-term frame, double-joining its postings and
    # inflating score/n_hits for every doc containing it. Order is
    # preserved (dict.fromkeys) so downstream literals are stable.
    query_terms = list(dict.fromkeys(query_terms))
    fb = bm25_search(
        docs, query_terms, id_col=id_col, text_col=text_col,
        k1=k1, b=b, top_k=fb_k,
    ).select(id_col)
    toks = docs.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).select(F.col(id_col), F.size("__toks").alias("dl"), F.col("__toks"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # r12 (guide §2.3 "project/filter before the exchange", §3.2
    # semi-join prefiltering): the FULL (doc, term) grain is never
    # aggregated — consumers filter the exploded token stream by a
    # broadcast doc/term set BEFORE aggregating, so each exchange
    # carries a few terms' postings instead of the whole
    # vocabulary×corpus grain. (Persisting the full grain was measured
    # WORSE — 9.0 s vs 5.2 s at sf0.1 — and at full-corpus scale the
    # right move is paying the layout once at ingest via
    # write_postings_index, not caching per query.) r12 session 4:
    # feedback tf tokenizes only the fb_k joined docs (one full-corpus
    # tokenize pass saved, no added orchestration).
    exploded = toks.select(
        F.col(id_col), "dl", F.explode("__toks").alias("term")
    )

    def posting_for(term_frame: DataFrame) -> DataFrame:
        """(doc, term, tf, dl) grain restricted to the given terms —
        identical rows to the full grain filtered post-hoc."""
        return (
            exploded.join(F.broadcast(term_frame.select("term")), "term")
            .groupBy(F.col(id_col), "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
        )

    banned = set(query_terms) | set(exclude_terms)
    # Σ tf over feedback docs == the raw occurrence count of the term
    # in those docs, so the (doc, term) intermediate is unnecessary.
    # r12 session 4: the fb broadcast semi-join moved BELOW the
    # tokenizer — joining the RAW docs on id first means only the fb_k
    # surviving documents are tokenized/exploded at all, where the old
    # shape tokenized and exploded the whole corpus and then threw
    # away every non-feedback row at the join (one full-corpus
    # tokenize pass saved; identical rows by construction).
    fb_terms = (
        docs.join(F.broadcast(fb), id_col)
        .select(F.explode(tokens(text_col)).alias("term"))
        .filter(~F.col("term").isin(*banned))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("__fb_tf"))
    )
    # (A shared candidate-postings pass — one explode serving both the
    # df statistics and pass-2 scoring via a persisted (doc, term, tf,
    # dl) grain — was measured WORSE at sf0.1: 5.4 -> 7.3 s keep-min.
    # The saved explode is ~0.5 s of CPU at bench scale while the
    # persist materialization plus the extra broadcast-build chain
    # (fb_terms -> union -> distinct -> cache) adds ~2 s of fixed
    # driver orchestration. Rejected; the two remaining explode passes
    # stay term-filtered before their exchanges.)
    dfreq = posting_for(fb_terms).groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    expansion = (
        fb_terms.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.round(F.col("__fb_tf") * idf, 6).alias("__w"),
        )
        .orderBy(F.desc("__w"), F.asc("term"))
        .limit(expand_k)
        .select("term", F.lit(float(beta)).alias("q_weight"))
    )
    spark = docs.sparkSession
    orig = spark.createDataFrame(
        [(t, 1.0) for t in query_terms], "term string, q_weight double"
    )
    weighted = orig.unionByName(expansion)
    q_posting = posting_for(weighted)
    q_dfreq = q_posting.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    tf_part = (
        F.col("tf")
        * (F.lit(k1) + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        q_posting.join(F.broadcast(weighted), "term")
        .join(F.broadcast(q_dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col),
            (
                F.col("q_weight") * F.round(idf * tf_part, 6)
            ).alias("__w"),
        )
    )
    # per-term weights live on the (beta × 1e-6) grid, so scaling by
    # 2e6 makes them exact INTEGERS (beta defaults to 0.5, a power of
    # two) — the per-doc sum is then order-independent, unlike the
    # raw double sum where Spark's partial-aggregation order and the
    # oracle's scan order can disagree by one ulp at a rounding edge.
    # The final round is 7dp, NOT 6: odd unit sums sit exactly on the
    # 6dp midpoint (x.xxxxxx5), where engine tie-rounding diverges;
    # no such midpoint exists on the 7dp grid.
    return (
        scored.groupBy(id_col)
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("__w") * F.lit(2e6)).cast("long")
                ).cast("double")
                / F.lit(2e6),
                7,
            ).alias("score"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        .orderBy(F.desc("score"), F.col(id_col))
        .limit(top_k)
    )
