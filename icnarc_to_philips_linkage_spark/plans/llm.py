"""Training-data-pipeline queries: dedup / similarity / text analysis /
multimodal over the ``documents`` and ``embeddings`` tables.

Every query has a full DuckDB oracle (generated programmatically from
the same constants as the Spark implementation, so lexicons / seed
counts / band layouts can't drift). Hashing is md5-over-strings
everywhere — engine-portable — and every floating similarity is rounded
to 6 decimals *before* ranking/filtering on it in BOTH engines, making
result sets deterministic.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from icnarc_to_philips_linkage_spark.operators.scale import (
    bounded_global_window,
    spread,
)

from icnarc_to_philips_linkage_spark.operators import (
    dedup_scale,
    evaluation,
    sampling,
    similarity,
    text,
)
from icnarc_to_philips_linkage_spark.operators.text import LANG_MARKERS, STOPWORDS
from icnarc_to_philips_linkage_spark.plans.tables import load, trained

DIM = 64  # embedding width in the testdata
KNN_QUERY_LIMIT = 10  # vec_id < 10 are the query vectors
MINHASH_K, MINHASH_BANDS, SHINGLE_N, JACCARD_T = 8, 4, 3, 0.4

# ------------------------------------------------------------ SQL helpers

_TOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"


def _shingle_cte() -> str:
    n = SHINGLE_N
    return f"""
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(t) < {n} THEN [array_to_string(t, ' ')]
           ELSE list_transform(generate_series(1, len(t) - {n - 1}),
                               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
      END) AS shingle
    FROM toks)
)"""


def _cos_sql(a: str, b: str) -> str:
    def dotp(x: str, y: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))"
        )

    return f"ROUND({dotp(a, b)} / (sqrt({dotp(a, a)}) * sqrt({dotp(b, b)})), 6)"


# ------------------------------------------------------------------ dedup


def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: content-digest groupBy, keeper = min id."""
    return dedup_scale.exact_dedup_groups(load(spark, sf, "documents"))


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental ingest dedup: sources src10+ are the incoming batch,
    src0-src9 the existing corpus; drop incoming docs already present by
    content digest, dedup the remainder within-batch. Runs the Bloom
    prefilter path (bloom over the incoming batch pruning the corpus
    side) — the oracle SQL is unchanged because false positives ride
    through to the exact anti join."""
    d = load(spark, sf, "documents")
    batch_no = F.substring("source", 4, 10).cast("int")
    return dedup_scale.incremental_ingest(
        d.filter(batch_no >= 10), d.filter(batch_no < 10), bloom_bits="auto"
    )


DEDUP_INCREMENTAL_SQL = """
WITH ex AS (
  SELECT DISTINCT md5(text) AS content_hash
  FROM documents WHERE TRY_CAST(SUBSTR(source, 4) AS INT) < 10
),
inc AS (
  SELECT doc_id, md5(text) AS content_hash
  FROM documents WHERE TRY_CAST(SUBSTR(source, 4) AS INT) >= 10
)
SELECT i.content_hash, MIN(i.doc_id) AS keep_id,
       COUNT(*) AS n_batch_copies
FROM inc i
WHERE NOT EXISTS (
  SELECT 1 FROM ex e WHERE e.content_hash = i.content_hash
)
GROUP BY i.content_hash
"""
# NOT EXISTS, not NOT IN: with any NULL hash (NULL text) NOT IN's
# three-valued logic empties the whole result while Spark's left_anti
# keeps NULL-hash incoming rows; NOT EXISTS matches anti-join semantics.


def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup pairs with exact-Jaccard verification."""
    return dedup_scale.minhash_lsh_dedup(
        spread(load(spark, sf, "documents"), "doc_id"),
        n=SHINGLE_N,
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        threshold=JACCARD_T,
    )


def _minhash_sql() -> str:
    k, bands = MINHASH_K, MINHASH_BANDS
    r = k // bands
    mins = ",\n    ".join(
        f"MIN(md5('{i}:' || shingle)) AS h{i}" for i in range(k)
    )
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(concat({', '.join(f'h{b * r + j}' for j in range(r))})) AS band_hash FROM sig"
        for b in range(bands)
    )
    return f"""
WITH {_shingle_cte()},
sig AS (
  SELECT doc_id,
    {mins}
  FROM sh GROUP BY doc_id
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band_idx, band_hash)
  WHERE a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT co.id_a, co.id_b,
       ROUND(co.n_common * 1.0 / (na.n_sh + nb.n_sh - co.n_common), 6) AS jaccard
FROM common co
JOIN sizes na ON na.doc_id = co.id_a
JOIN sizes nb ON nb.doc_id = co.id_b
WHERE ROUND(co.n_common * 1.0 / (na.n_sh + nb.n_sh - co.n_common), 6) >= {JACCARD_T}
"""


NGRAM_T = 0.3


def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact n-gram Jaccard pairs under 1-permutation MinHash blocking
    (the shared-min-shingle block; equi-join, never O(n²))."""
    return dedup_scale.ngram_jaccard_dedup(
        spread(load(spark, sf, "documents"), "doc_id"),
        n=SHINGLE_N,
        threshold=NGRAM_T,
    )


def dedup_jaccard_prefix_exact(spark: SparkSession, sf: str) -> DataFrame:
    """GUARANTEED-recall shingle-Jaccard near-dup pairs via PPJoin-style
    prefix filtering (dedup_scale.jaccard_prefix_join) — the exact
    upgrade of ``dedup_ngram_jaccard``: the 1-perm MinHash block finds
    a qualifying pair only with probability = its Jaccard, while the
    rarity-ordered prefix join is COMPLETE for J >= t by construction
    and still an equi-join (positional + length filters prune
    candidates before they materialize). Same threshold, same shingle
    universe, provably a superset of the blocked result — pinned by
    pytest. The oracle is brute-force all-pairs exact Jaccard in
    DuckDB: an INDEPENDENT method, so the prefix filter's completeness
    itself is differentially checked."""
    sets = dedup_scale.shingle_sets(
        spread(load(spark, sf, "documents"), "doc_id"), n=SHINGLE_N
    )
    return dedup_scale.jaccard_prefix_join(
        sets, threshold=NGRAM_T, set_col="sh_arr"
    )


def _jaccard_exact_sql() -> str:
    jac = (
        "len(list_intersect(a.sh, b.sh)) * 1.0 / "
        "(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"
    )
    return f"""
WITH {_shingle_cte()},
sets AS (
  SELECT doc_id, list(shingle) AS sh FROM sh GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND({jac}, 6) AS jaccard
FROM sets a JOIN sets b ON a.doc_id < b.doc_id
WHERE ROUND({jac}, 6) >= {NGRAM_T}
"""


_CONTAIN_EXACT_T = 0.6


def dedup_containment_exact(spark: SparkSession, sf: str) -> DataFrame:
    """GUARANTEED-recall DIRECTED containment pairs via PREFIX
    filtering (dedup_scale.containment_prefix_join): c(A→B) =
    |A∩B|/|A| ≥ 0.6 over shingle sets — the prefix-filtered upgrade of
    ``dedup_containment`` exactly as ``dedup_jaccard_prefix_exact``
    upgrades ``dedup_ngram_jaccard``: the existing op materializes a
    candidate for EVERY gram-sharing pair, while here only A's
    rarity-ordered prefix explodes on the probe side (candidates
    bounded by the prefix, exact-rational size/positional pruning in
    the join condition). Oracle = independent brute-force all-pairs
    containment in DuckDB, so the prefix filter's completeness is
    differentially checked."""
    sets = dedup_scale.shingle_sets(
        spread(load(spark, sf, "documents"), "doc_id"), n=SHINGLE_N
    )
    return dedup_scale.containment_prefix_join(
        sets, threshold=_CONTAIN_EXACT_T, set_col="sh_arr"
    )


def _containment_exact_sql() -> str:
    from fractions import Fraction

    fr = Fraction(str(_CONTAIN_EXACT_T))
    p, q = fr.numerator, fr.denominator
    return f"""
WITH {_shingle_cte()},
sets AS (
  SELECT doc_id, list(shingle) AS sh FROM sh GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 / len(a.sh), 6)
         AS containment
FROM sets a JOIN sets b ON a.doc_id != b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) * {q} >= {p} * len(a.sh)
"""


def decontam_doc_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """GUARANTEED-recall document-level decontamination: exact
    cross-corpus shingle-Jaccard join (dedup_scale.jaccard_prefix_join_rs)
    of the training split (source <> 'src0') against the benchmark
    corpus (source = 'src0'). The sampled n-gram screen
    (decontam_report) and the embedding screen (decontam_embedding) are
    probabilistic; this join emits EVERY (train, bench) pair with
    J >= t by construction — the train side streams map-side against a
    broadcast bench prefix index, so the 100 TB pass never shuffles for
    candidates. ``order_mode="hashed"`` is pinned here: unlike the
    SELF-join (where rarity-ordered prefixes beat md5 order 5×), the
    R-S candidate space is bounded by the broadcast bench index, so
    skipping the train-corpus stats pass wins — measured 3.8-4.4 s vs
    4.6-10.2 s for "frequency" at sf0.1, and at 100 TB it removes the
    only train-side shuffles entirely. Both modes return identical rows
    (parity-pinned in tests). Oracle: brute-force cross-corpus Jaccard
    in DuckDB (an independent method, differentially checking the
    prefix filter's completeness)."""
    docs = spread(load(spark, sf, "documents"), "doc_id")
    train = dedup_scale.shingle_sets(
        docs.filter(F.col("source") != "src0"), n=SHINGLE_N
    )
    bench = dedup_scale.shingle_sets(
        docs.filter(F.col("source") == "src0"), n=SHINGLE_N
    )
    return dedup_scale.jaccard_prefix_join_rs(
        train, bench, threshold=NGRAM_T, set_col="sh_arr",
        order_mode="hashed",
    )


def _doc_jaccard_rs_sql() -> str:
    jac = (
        "len(list_intersect(tr.sh, be.sh)) * 1.0 / "
        "(len(tr.sh) + len(be.sh) - len(list_intersect(tr.sh, be.sh)))"
    )
    return f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, source, shingle FROM (
    SELECT doc_id, source, unnest(
      CASE WHEN len(t) < {SHINGLE_N} THEN [array_to_string(t, ' ')]
           ELSE list_transform(generate_series(1, len(t) - {SHINGLE_N - 1}),
                               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
      END) AS shingle
    FROM toks)),
sets AS (SELECT doc_id, source, list(shingle) AS sh FROM sh
         GROUP BY doc_id, source),
tr AS (SELECT * FROM sets WHERE source <> 'src0'),
be AS (SELECT * FROM sets WHERE source = 'src0')
SELECT tr.doc_id AS id_l, be.doc_id AS id_r, ROUND({jac}, 6) AS jaccard
FROM tr JOIN be ON ROUND({jac}, 6) >= {NGRAM_T}
"""


def _ngram_jaccard_sql() -> str:
    return f"""
WITH {_shingle_cte()},
sets AS (
  SELECT doc_id, list(shingle) AS sh,
         MIN(md5('0:' || shingle)) AS block
  FROM sh GROUP BY doc_id
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
         AS jaccard
FROM sets a JOIN sets b ON a.block = b.block AND a.doc_id < b.doc_id
WHERE ROUND(len(list_intersect(a.sh, b.sh)) * 1.0 /
            (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6)
      >= {NGRAM_T}
"""


def dedup_near_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup clusters: LSH pairs → connected components → keeper
    marking. Spark side iterates min-label propagation; the oracle
    computes the same closure with a recursive CTE."""
    return dedup_scale.near_dup_clusters(
        spread(load(spark, sf, "documents"), "doc_id"),
        n=SHINGLE_N,
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        threshold=JACCARD_T,
    )


def _near_clusters_sql() -> str:
    pairs_sql = _minhash_sql().strip().rstrip(";")
    return f"""
WITH RECURSIVE pairs AS (
{pairs_sql}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, MIN(lbl) AS cluster_id,
       node = MIN(lbl) AS keep
FROM reach GROUP BY node
"""


def sample_split_dedup_aware(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe split assignment (sampling.dedup_aware_split): the
    train/val/test hash keys on the near-dup cluster representative,
    so LSH near-duplicates can never straddle splits. FULL oracle:
    the recursive-CTE component closure (from _near_clusters_sql) +
    the md5 band thresholds (from _split_sql), composed."""
    from icnarc_to_philips_linkage_spark.operators.sampling import (
        dedup_aware_split,
    )

    return dedup_aware_split(
        spread(load(spark, sf, "documents"), "doc_id"),
        fractions=SPLIT_FRACTIONS,
        n=SHINGLE_N,
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        threshold=JACCARD_T,
    )


def _split_dedup_aware_sql() -> str:
    from icnarc_to_philips_linkage_spark.operators.sampling import (
        _threshold_hex,
    )

    pairs_sql = _minhash_sql().strip().rstrip(";")
    cases, cum = [], 0.0
    for name, frac in SPLIT_FRACTIONS.items():
        cum += frac  # same accumulation order as hash_split → same floats
        cases.append(f"WHEN bucket < '{_threshold_hex(cum)}' THEN '{name}'")
    return f"""
WITH RECURSIVE pairs AS (
{pairs_sql}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
         FROM reach GROUP BY node),
rep AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_rep
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, cluster_rep,
       CASE {' '.join(cases)} END AS split
FROM (SELECT doc_id, cluster_rep,
             substr(md5('split:' || CAST(cluster_rep AS VARCHAR)), 1, 8)
               AS bucket
      FROM rep)
"""


def dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-aware near-dup survivor selection: LSH clusters ×
    classifier scores, keep the highest-quality member per cluster
    (ties → smallest id) — the curation semantics over the same
    clusters `dedup_near_clusters` marks by smallest id."""
    clusters = dedup_scale.near_dup_clusters(
        spread(load(spark, sf, "documents"), "doc_id"),
        n=SHINGLE_N,
        k=MINHASH_K,
        bands=MINHASH_BANDS,
        threshold=JACCARD_T,
    ).select("doc_id", "cluster_id")
    quality = quality_classifier_score(spark, sf).select(
        "doc_id", "p_quality"
    )
    return dedup_scale.keep_best_per_cluster(clusters, quality)


def _keep_best_sql() -> str:
    pairs_sql = _minhash_sql().strip().rstrip(";")
    return f"""
WITH RECURSIVE pairs AS (
{pairs_sql}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
clus AS (
  SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
),
scored AS ({_qcls_sql()})
SELECT c.doc_id, c.cluster_id, s.p_quality,
       row_number() OVER (
         PARTITION BY c.cluster_id
         ORDER BY s.p_quality DESC NULLS LAST, c.doc_id ASC) = 1 AS keep
FROM clus c LEFT JOIN scored s USING (doc_id)
"""


def report_source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source duplication matrix (reports.source_overlap_report):
    MinHash-LSH near-dup pairs tagged with each side's source, rolled
    into unordered source-pair counts + mean Jaccard — the 'which
    feeds copy from each other' screen a multi-source ingest runs
    before weighting sources."""
    from icnarc_to_philips_linkage_spark.operators import reports

    docs = spread(load(spark, sf, "documents"), "doc_id")
    pairs = dedup_scale.minhash_lsh_dedup(
        docs, n=SHINGLE_N, k=MINHASH_K, bands=MINHASH_BANDS,
        threshold=JACCARD_T,
    )
    labels = load(spark, sf, "documents").select("doc_id", "source")
    return reports.source_overlap_report(pairs, labels)


def _source_overlap_sql() -> str:
    pairs_sql = _minhash_sql().strip().rstrip(";")
    return f"""
WITH pairs AS (
{pairs_sql}
),
tagged AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b,
         CAST(p.jaccard AS DECIMAL(38,6)) AS sim
  FROM pairs p
  JOIN documents da ON da.doc_id = p.id_a
  JOIN documents db ON db.doc_id = p.id_b
)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(sum(sim) AS DOUBLE) / count(*), 6) AS avg_sim
FROM tagged GROUP BY source_a, source_b
"""


def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """16-bit SimHash per document (bit-exact integer construction)."""
    return dedup_scale.simhash16(load(spark, sf, "documents"))


def _simhash_sql() -> str:
    sums = []
    for i in range(16):
        hex_idx = i // 4 + 1
        bit = 3 - (i % 4)
        hexval = f"(strpos('0123456789abcdef', substr(th, {hex_idx}, 1)) - 1)"
        sums.append(
            f"SUM(CASE WHEN (({hexval} >> {bit}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i}"
        )
    terms = " + ".join(
        f"CASE WHEN s{i} > 0 THEN {1 << (15 - i)} ELSE 0 END" for i in range(16)
    )
    return f"""
WITH toks AS (SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
h AS (SELECT doc_id, md5(tok) AS th FROM tok),
sums AS (
  SELECT doc_id, {', '.join(sums)}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({terms} AS INT) AS simhash FROM sums
"""


# ------------------------------------------------------------- similarity


def emb_int8_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 vector quantization — the vector-store compression
    step (16x smaller than float32 at ~1% recall cost in practice):
    per-vector max-abs scale, codes = clamp(round(x/scale)), plus the
    reconstruction MSE that prices the compression. Pure array
    expressions; the per-component fold runs in array order on both
    engines, so the MSE doubles are identical."""
    emb = load(spark, sf, "embeddings")
    v = F.col("embedding")
    scale = F.round(
        F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
        / 127.0,
        9,
    )
    q = emb.select("vec_id", v.alias("v"), scale.alias("scale"))
    code = lambda x: F.when(  # noqa: E731
        F.col("scale") > 0,
        F.least(
            F.lit(127),
            F.greatest(
                F.lit(-127),
                F.round(x.cast("double") / F.col("scale"), 0).cast("int"),
            ),
        ),
    ).otherwise(F.lit(0))
    codes = F.transform(F.col("v"), code)
    sq_err = F.zip_with(
        F.col("v"),
        codes,
        lambda x, c: (x.cast("double") - c * F.col("scale"))
        * (x.cast("double") - c * F.col("scale")),
    )
    return q.select(
        "vec_id",
        "scale",
        codes.alias("codes"),
        F.round(
            F.aggregate(
                sq_err, F.lit(0.0), lambda acc, e: acc + e
            )
            / F.size(F.col("v")),
            9,
        ).alias("mse"),
    )


def _emb_int8_sql() -> str:
    return f"""
WITH scaled AS (
  SELECT vec_id, embedding AS v,
         ROUND(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) / 127.0, 9) AS scale
  FROM embeddings
),
coded AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CASE WHEN scale > 0
             THEN CAST(LEAST(127, GREATEST(-127,
                  ROUND(CAST(x AS DOUBLE) / scale, 0))) AS INT)
             ELSE 0 END) AS codes
  FROM scaled
)
SELECT vec_id, scale, codes,
       ROUND(list_sum(list_transform(generate_series(1, {DIM}),
               i -> (CAST(v[i] AS DOUBLE) - codes[i] * scale)
                    * (CAST(v[i] AS DOUBLE) - codes[i] * scale)))
             / {DIM}, 9) AS mse
FROM coded
"""


def emb_label_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label mean embedding (class centroids — the building block
    of IVF coarse quantizers, nearest-centroid classifiers, and
    diversity audits): explode to (label, dim, component), exact
    decimal mean per cell, reassemble the vector with an order-pinned
    collect_list. One shuffle on (label, dim) — dim-bounded fan-out,
    map-side combinable."""
    emb = load(spark, sf, "embeddings")
    cells = emb.select(
        "label",
        F.posexplode("embedding").alias("i", "v"),
    )
    # exact decimal SUM, then ONE double division — structurally
    # identical to the oracle (decimal division would round at decimal
    # scale before the cast and could drift in the 7th place)
    means = cells.groupBy("label", "i").agg(
        (
            F.sum(F.col("v").cast("decimal(18,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        means.groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("i"), F.col("m")))
                ),
                lambda s: F.round(s["m"], 6),
            ).alias("centroid"),
        )
    )


EMB_CENTROIDS_SQL = f"""
WITH cells AS (
  SELECT label, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, generate_series(1, {DIM}) t(i)
),
means AS (
  SELECT label, i,
         CAST(SUM(CAST(v AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS m,
         COUNT(*) AS n
  FROM cells GROUP BY label, i
)
SELECT label, MAX(n) AS n_vectors,
       list(ROUND(m, 6) ORDER BY i) AS centroid
FROM means GROUP BY label
"""


def sim_knn_brute_force(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-5 for the first 10 vectors as queries."""
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    return similarity.knn_brute_force(emb, q, k=5)


def _knn_sql() -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {KNN_QUERY_LIMIT}),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.qv', 'c.embedding')} AS cos_sim
  FROM embeddings c, q
  WHERE c.vec_id != q.query_id
)
SELECT query_id, neighbor_id, cos_sim FROM pairs
QUALIFY row_number() OVER (
  PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
"""


_JL_OUT_DIM = 16


def emb_random_projection(spark: SparkSession, sf: str) -> DataFrame:
    """Fit-free JL projection of the embedding table to 16 dims
    (similarity.random_projection): literal ±1 sign matrix from md5
    parity, pure map-side folds. The oracle re-derives every sign
    from md5 IN SQL — an independent implementation of the spec."""
    return similarity.random_projection(
        load(spark, sf, "embeddings"), in_dim=DIM, out_dim=_JL_OUT_DIM
    )


def _random_projection_sql() -> str:
    comps = []
    for j in range(_JL_OUT_DIM):
        sign = (
            "CASE WHEN (strpos('0123456789abcdef', "
            f"substr(md5('jl:' || CAST(i - 1 AS VARCHAR) || ':{j}'), 1, 1))"
            " - 1) % 2 = 0 THEN 1.0 ELSE -1.0 END"
        )
        comps.append(
            "ROUND(list_sum(list_transform(generate_series(1, "
            f"{DIM}), i -> CAST(embedding[i] AS DOUBLE) * ({sign}))) "
            f"/ sqrt({_JL_OUT_DIM}), 6)"
        )
    return f"""
SELECT vec_id, [{', '.join(comps)}] AS proj FROM embeddings
"""


def sim_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN: route to nearest label-centroid, search that cell."""
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    return similarity.ivf_topk(emb, q, k=5)


def _ivf_sql() -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {KNN_QUERY_LIMIT}),
cent AS (
  SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m
  FROM embeddings, generate_series(1, {DIM}) t(i)
  GROUP BY label, i
),
centv AS (SELECT label, list(m ORDER BY i) AS centroid FROM cent GROUP BY label),
routed AS (
  SELECT query_id, qv, label FROM (
    SELECT q.query_id, q.qv, c.label,
           {_cos_sql('q.qv', 'c.centroid')} AS cent_sim
    FROM q, centv c)
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cent_sim DESC, label ASC) = 1
),
sims AS (
  SELECT r.query_id, e.vec_id AS neighbor_id,
         {_cos_sql('r.qv', 'e.embedding')} AS cos_sim
  FROM embeddings e JOIN routed r ON e.label = r.label
  WHERE e.vec_id != r.query_id
)
SELECT query_id, neighbor_id, cos_sim FROM sims
QUALIFY row_number() OVER (
  PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
"""


# Synthetic embeddings top out near cosine 0.47 within a label; 0.3 keeps
# the threshold branch meaningfully exercised (~1% of blocked pairs).
N_PLANES = 6


def sim_ann_rh_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """LSH-bucketed ANN (random hyperplanes): approximate top-5 — only
    the query's bucket is probed. The oracle reproduces the identical
    literal hyperplanes, so even this *approximate* op is exactly
    checkable."""
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    return similarity.ann_rh_lsh(emb, q, k=5, n_planes=N_PLANES, dim=DIM)


def sim_recall_eval(spark: SparkSession, sf: str) -> DataFrame:
    """ANN index evaluation: per-query recall@5 of multi-probe LSH
    against exact brute-force top-5. FULL hash oracle: both sides of
    the comparison are deterministic and SQL-expressible — the truth
    is the brute-force top-5 (``_knn_sql``) and the approximation is
    the literal-hyperplane multi-probe LSH (``_rh_lsh_multiprobe_sql``)
    — so the oracle recomputes the ENTIRE evaluation in DuckDB and the
    per-query scalar rows (query_id, n_truth, n_hit, recall)
    hash-match."""
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    truth = similarity.knn_brute_force(emb, q, k=5)
    approx = similarity.ann_rh_lsh_multiprobe(
        emb, q, k=5, n_planes=N_PLANES, dim=DIM
    )
    return similarity.recall_per_query(truth, approx)


def _recall_eval_sql() -> str:
    return f"""
WITH truth AS (
{_knn_sql()}
),
approx AS (
{_rh_lsh_multiprobe_sql()}
),
tn AS (SELECT query_id, COUNT(*) AS n_truth FROM truth GROUP BY query_id),
h AS (
  SELECT t.query_id, COUNT(*) AS n_hit
  FROM truth t JOIN approx a
    ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
  GROUP BY t.query_id
)
SELECT tn.query_id, tn.n_truth, COALESCE(h.n_hit, 0) AS n_hit,
       ROUND(COALESCE(h.n_hit, 0) / tn.n_truth, 6) AS recall
FROM tn LEFT JOIN h USING (query_id)
"""


def _rh_lsh_sql() -> str:
    planes = [similarity._hyperplane(p, DIM) for p in range(N_PLANES)]

    def plane_lit(plane: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]"

    def dot_plane(v: str, plane: list[float]) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({v}[i] AS DOUBLE) * ({plane_lit(plane)})[i]))"
        )

    bucket = " + ".join(
        f"CAST({dot_plane('embedding', plane)} > 0 AS INT) * {1 << p}"
        for p, plane in enumerate(planes)
    )
    return f"""
WITH hashed AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM hashed
      WHERE vec_id < {KNN_QUERY_LIMIT}),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.qv', 'c.embedding')} AS cos_sim
  FROM hashed c JOIN q USING (bucket)
  WHERE c.vec_id != q.query_id
)
SELECT query_id, neighbor_id, cos_sim FROM sims
QUALIFY row_number() OVER (
  PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
"""


def sim_ann_rh_lsh_multiprobe(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-probe LSH ANN: each query also probes every Hamming-1
    neighbor bucket (recall repair for vectors near a cutting plane);
    corpus hashed once, query side fans out ×(1+planes)."""
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    return similarity.ann_rh_lsh_multiprobe(
        emb, q, k=5, n_planes=N_PLANES, dim=DIM
    )


def _rh_lsh_multiprobe_sql() -> str:
    planes = [similarity._hyperplane(p, DIM) for p in range(N_PLANES)]

    def plane_lit(plane: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]"

    def dot_plane(v: str, plane: list[float]) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({v}[i] AS DOUBLE) * ({plane_lit(plane)})[i]))"
        )

    bucket = " + ".join(
        f"CAST({dot_plane('embedding', plane)} > 0 AS INT) * {1 << p}"
        for p, plane in enumerate(planes)
    )
    masks = ", ".join(str(m) for m in [0] + [1 << p for p in range(N_PLANES)])
    return f"""
WITH hashed AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
),
q AS (
  SELECT h.vec_id AS query_id, h.embedding AS qv,
         xor(h.bucket, m.mask) AS bucket
  FROM hashed h CROSS JOIN (SELECT unnest([{masks}]) AS mask) m
  WHERE h.vec_id < {KNN_QUERY_LIMIT}
),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.qv', 'c.embedding')} AS cos_sim
  FROM hashed c JOIN q USING (bucket)
  WHERE c.vec_id != q.query_id
)
SELECT query_id, neighbor_id, cos_sim FROM sims
QUALIFY row_number() OVER (
  PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
"""


def sketch_hll_merge(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable HLL sketch columns (DataSketches): per-group sketches
    plus the union-merged global, emitted as (scope, exact_distinct,
    within_bound) — the HLL sketch is deterministic, so the bound
    booleans are hash-matchable and the oracle emits the exact side
    (same pattern as a8c_kll_quantiles). Closeness also pytest-asserted
    in tests/test_sketches."""
    from icnarc_to_philips_linkage_spark.operators import profile as prof

    return prof.hll_accuracy_report(
        load(spark, sf, "lineitem"), "l_returnflag", "l_orderkey"
    )


SKETCH_HLL_SQL = """
SELECT CAST(l_returnflag AS VARCHAR) AS scope,
       COUNT(DISTINCT l_orderkey) AS exact_distinct,
       TRUE AS within_bound
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT '__ALL__', COUNT(DISTINCT l_orderkey), TRUE FROM lineitem
"""
# The oracle emits TRUE unconditionally: within_bound is the Spark
# side's own estimate-vs-exact verification; a sketch drifting outside
# the published bound hash-mismatches against this row.


def sketch_theta_setops(spark: SparkSession, sf: str) -> DataFrame:
    """Theta-sketch set algebra (|A|,|B|,|A∪B|,|A∩B|,|A\\B| of distinct
    order keys for returnflag A vs R) with deterministic bound-check
    booleans; exact side by inclusion-exclusion in one aggregate."""
    from icnarc_to_philips_linkage_spark.operators import profile as prof

    return prof.theta_set_cardinalities(
        load(spark, sf, "lineitem"), "l_returnflag", "l_orderkey", "A", "R"
    )


SKETCH_THETA_SQL = """
WITH s AS (
  SELECT COUNT(DISTINCT CASE WHEN l_returnflag = 'A' THEN l_orderkey END) AS exa,
         COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_orderkey END) AS exb,
         COUNT(DISTINCT CASE WHEN l_returnflag IN ('A','R') THEN l_orderkey END) AS exu
  FROM lineitem
)
SELECT 'a' AS scope, exa AS exact_distinct, TRUE AS within_bound FROM s
UNION ALL SELECT 'b', exb, TRUE FROM s
UNION ALL SELECT 'union', exu, TRUE FROM s
UNION ALL SELECT 'intersection', exa + exb - exu, TRUE FROM s
UNION ALL SELECT 'difference', exa - (exa + exb - exu), TRUE FROM s
"""


_KMEANS_K, _KMEANS_ITER = 8, 3


def cluster_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative k-means cluster sizes. FULL hash oracle even though
    the algorithm is iterative: the training loop is deterministic
    (lowest-id init, fixed iteration count, float32 centroid casts,
    6dp-rounded distances before each argmin), so the DuckDB oracle
    UNROLLS all three assign/update rounds as CTEs and reproduces the
    exact trajectory — the same pattern as the BPE-train oracle.
    tests/test_llm_ops.py additionally pins determinism + coverage."""
    from icnarc_to_philips_linkage_spark.operators import clustering

    # NOT spread(): kmeans caches `points` once, and every iteration
    # then runs k×dim-bounded aggregates — at bench scale the exchange
    # plus 32-task jobs per iteration cost more than the single-task
    # math (measured 2.3 -> 3.3 s); at real scale the scan is already
    # wide and spread() would be a no-op anyway.
    emb = load(spark, sf, "embeddings")
    assignments = clustering.kmeans(
        emb, k=_KMEANS_K, max_iter=_KMEANS_ITER
    )
    return clustering.cluster_sizes(assignments)


def _kmeans_sql() -> str:
    """Unrolled replay of ``clustering.kmeans`` (k=8, 3 iterations):
    per round, assignment = 6dp-rounded squared-distance argmin over
    the previous centroids (lowest-cluster tie-break), update =
    per-(cluster, position) mean CAST TO FLOAT32 then back to double
    — mirroring the engine's ``cast(x.m as float)`` — so both engines
    walk bit-compatible centroids and the final sizes hash-match."""
    k, iters = _KMEANS_K, _KMEANS_ITER

    def dot(vec: str, cent: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({vec}[i] AS DOUBLE) * {cent}[i]))"
        )

    def assign(cents: str) -> str:
        return f"""
  SELECT vec_id, cluster FROM (
    SELECT p.vec_id, c.cluster,
           row_number() OVER (PARTITION BY p.vec_id
             ORDER BY ROUND((p.p_nsq - 2.0 * {dot('p.embedding', 'c.centroid')})
                            + c.c_nsq, 6) ASC, c.cluster ASC) AS rn
    FROM pts p CROSS JOIN {cents} c)
  WHERE rn = 1"""

    nsq = (
        f"list_sum(list_transform(generate_series(1, {DIM}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))"
    )
    parts = [
        f"""
WITH pts AS MATERIALIZED (
  SELECT vec_id, embedding, {nsq} AS p_nsq FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid,
         p_nsq AS c_nsq
  FROM (SELECT * FROM pts ORDER BY vec_id LIMIT {k})
)"""
    ]
    for t in range(1, iters + 1):
        parts.append(f""",
a{t} AS MATERIALIZED ({assign(f'c{t - 1}')}
),
m{t} AS (
  SELECT a.cluster, g.i AS pos,
         CAST(CAST(AVG(CAST(p.embedding[g.i] AS DOUBLE)) AS REAL)
              AS DOUBLE) AS m
  FROM a{t} a JOIN pts p USING (vec_id),
       unnest(generate_series(1, {DIM})) AS g(i)
  GROUP BY a.cluster, g.i
),
c{t} AS MATERIALIZED (
  SELECT cluster, centroid,
         list_sum(list_transform(centroid, c -> c * c)) AS c_nsq
  FROM (SELECT cluster, list(m ORDER BY pos) AS centroid
        FROM m{t} GROUP BY cluster)
)""")
    parts.append(f"""
SELECT cluster, COUNT(*) AS n FROM ({assign(f'c{iters}')}
) GROUP BY cluster""")
    return "".join(parts)


_PQ_M, _PQ_KSUB, _PQ_ITER = 8, 16, 2
_PQ_D = DIM // _PQ_M
_PQ_TRAIN_CAP = 16384


@trained("embeddings")
def _pq_books(spark: SparkSession, sf: str) -> list:
    """Codebooks for the registered PQ queries. Training is
    deterministic and four queries consume the books (two directly, two
    through the index), so they share one training run."""
    from icnarc_to_philips_linkage_spark.operators import pq

    return pq.pq_train(
        spread(load(spark, sf, "embeddings"), "vec_id"),
        dim=DIM,
        m=_PQ_M,
        ksub=_PQ_KSUB,
        max_iter=_PQ_ITER,
        # dim*ksub = 1024 codebook params: 16k deterministic-sample
        # vectors train them as well as the full corpus, and the
        # training passes stop scaling with corpus size (FAISS-style
        # train-on-sample; VERDICT r4 #3)
        max_train_rows=_PQ_TRAIN_CAP,
    )


def _pq_index(spark: SparkSession, sf: str) -> str:
    """Persisted IVF-PQ index table: built (encode + bucketed write)
    once per version of the embeddings, then both probe queries answer
    from it — the build-once/probe-many contract ``write_pq_index``
    documents. Table name and path are the artifact key, so the catalog
    is the memo and a rebuild after a catalog drop overwrites the same
    path instead of leaking a new one."""
    import os
    import tempfile

    from icnarc_to_philips_linkage_spark.operators import pq
    from icnarc_to_philips_linkage_spark.plans.tables import artifact_key

    table = artifact_key(_pq_index, sf, ("embeddings",))
    if spark.catalog.tableExists(table):
        return table
    pq.write_pq_index(
        spread(load(spark, sf, "embeddings"), "vec_id"),
        table,
        os.path.join(tempfile.gettempdir(), table),
        dim=DIM,
        m=_PQ_M,
        ksub=_PQ_KSUB,
        max_iter=_PQ_ITER,
        max_train_rows=_PQ_TRAIN_CAP,
        codebooks=_pq_books(spark, sf),
    )
    return table


def _pq_train_ctes() -> str:
    """Shared CTE chain replaying ``pq.pq_train`` + ``pq.pq_encode`` in
    DuckDB: per-subspace k-means (ksub=16, 2 unrolled iterations,
    lowest-id seed vectors, 6dp-rounded distances, float32-cast means —
    the exact determinism recipe the engine uses), then full-corpus
    encoding against the trained books. Subspaces are NOT unrolled —
    they ride a plain ``s`` column. Valid while |embeddings| <=
    pq_train's max_train_rows (16384): beyond that the engine trains on
    its deterministic hash-sample, which DuckDB cannot reproduce
    (xxhash64); every shipped testdata scale is far below the cap."""
    d, m, ksub = _PQ_D, _PQ_M, _PQ_KSUB

    def dist(v: str, c: str) -> str:
        return (
            f"ROUND(list_sum(list_transform(generate_series(1, {d}), "
            f"j -> ({v}[j] - {c}[j]) * ({v}[j] - {c}[j]))), 6)"
        )

    def assign(cb: str) -> str:
        return f"""
  SELECT vec_id, s, code FROM (
    SELECT su.vec_id, su.s, cb.code,
           row_number() OVER (PARTITION BY su.vec_id, su.s
             ORDER BY {dist('su.v', 'cb.cent')} ASC, cb.code ASC) AS rn
    FROM sub su JOIN {cb} cb ON su.s = cb.s)
  WHERE rn = 1"""

    parts = [
        f"""
sub AS MATERIALIZED (
  SELECT vec_id, t.s,
         list_transform(generate_series(1, {d}),
                        j -> CAST(embedding[t.s * {d} + j] AS DOUBLE)) AS v
  FROM embeddings, unnest(generate_series(0, {m - 1})) AS t(s)
),
seed AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {ksub})
),
cb0 AS MATERIALIZED (
  SELECT su.s, sd.code, su.v AS cent
  FROM sub su JOIN seed sd USING (vec_id)
)"""
    ]
    for t in range(1, _PQ_ITER + 1):
        parts.append(f""",
a{t} AS MATERIALIZED ({assign(f'cb{t - 1}')}
),
cb{t} AS MATERIALIZED (
  SELECT cb.s, cb.code, COALESCE(m.cent, cb.cent) AS cent
  FROM cb{t - 1} cb LEFT JOIN (
    SELECT s, code, list(mm ORDER BY p) AS cent FROM (
      SELECT a.s, a.code, g.p,
             CAST(CAST(AVG(su.v[g.p]) AS REAL) AS DOUBLE) AS mm
      FROM a{t} a JOIN sub su ON a.vec_id = su.vec_id AND a.s = su.s,
           unnest(generate_series(1, {d})) AS g(p)
      GROUP BY a.s, a.code, g.p)
    GROUP BY s, code
  ) m ON cb.s = m.s AND cb.code = m.code
)""")
    parts.append(f""",
codes AS MATERIALIZED ({assign(f'cb{_PQ_ITER}')}
),
dtab AS MATERIALIZED (
  SELECT su.vec_id AS query_id, su.s, cb.code,
         {dist('su.v', 'cb.cent')} AS dv
  FROM sub su JOIN cb{_PQ_ITER} cb ON su.s = cb.s
  WHERE su.vec_id < {KNN_QUERY_LIMIT}
)""")
    return "".join(parts)


def _pq_sql() -> str:
    return f"""
WITH {_pq_train_ctes()}
SELECT query_id, neighbor_id, adc_dist FROM (
  SELECT d.query_id, c.vec_id AS neighbor_id,
         ROUND(SUM(d.dv), 6) AS adc_dist
  FROM codes c JOIN dtab d ON c.s = d.s AND c.code = d.code
  WHERE d.query_id != c.vec_id
  GROUP BY d.query_id, c.vec_id)
QUALIFY row_number() OVER (
  PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) <= 5
"""


def _ivfpq_sql(nprobe: int = 1) -> str:
    return f"""
WITH {_pq_train_ctes()},
cent AS (
  SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS m
  FROM embeddings, generate_series(1, {DIM}) t(i)
  GROUP BY label, i
),
centv AS (SELECT label, list(m ORDER BY i) AS centroid
          FROM cent GROUP BY label),
routed AS (
  SELECT query_id, label FROM (
    SELECT q.vec_id AS query_id, c.label,
           {_cos_sql('q.embedding', 'c.centroid')} AS cent_sim
    FROM embeddings q, centv c WHERE q.vec_id < {KNN_QUERY_LIMIT})
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cent_sim DESC, label ASC) <= {nprobe}
)
SELECT query_id, neighbor_id, adc_dist FROM (
  SELECT d.query_id, c.vec_id AS neighbor_id,
         ROUND(SUM(d.dv), 6) AS adc_dist
  FROM codes c
  JOIN embeddings e ON c.vec_id = e.vec_id
  JOIN routed r ON e.label = r.label
  JOIN dtab d ON c.s = d.s AND c.code = d.code
               AND d.query_id = r.query_id
  WHERE d.query_id != c.vec_id
  GROUP BY d.query_id, c.vec_id)
QUALIFY row_number() OVER (
  PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) <= 5
"""


def sim_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantized ANN: train per-subspace codebooks, encode the
    corpus to m=8 codes, ADC top-5 for the query vectors. FULL hash
    oracle: training is deterministic (lowest-id seeds, fixed
    iterations, 6dp-rounded distances, float32-cast means), so
    ``_pq_sql`` unrolls the whole train→encode→ADC trajectory in
    DuckDB — the k-means-oracle pattern applied per subspace. Quality
    additionally pinned by planted-duplicate tests."""
    from icnarc_to_philips_linkage_spark.operators import pq

    emb = spread(load(spark, sf, "embeddings"), "vec_id")
    books = _pq_books(spark, sf)
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    return pq.pq_search(queries, pq.pq_encode(emb, books), books, k=5)


def sim_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ two-level ANN: coarse cell routing + ADC over that cell's
    PQ codes. FULL hash oracle (``_ivfpq_sql``): the trained books
    replay via the unrolled ``_pq_train_ctes`` and the cell routing
    via the proven label-centroid SQL from ``_ivf_sql``; semantics
    additionally pinned by cell-membership and planted-duplicate
    tests."""
    from icnarc_to_philips_linkage_spark.operators import pq

    emb = spread(load(spark, sf, "embeddings"), "vec_id")
    books = _pq_books(spark, sf)
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    return pq.ivf_pq_topk(emb, queries, books, k=5)


def sim_pq_index_probe(spark: SparkSession, sf: str) -> DataFrame:
    """Persisted IVF-PQ index, probed (pq.write_pq_index /
    pq.probe_pq_index — VERDICT r7 #2): the bucketed codes table plus
    codebook and cell-centroid side tables are written once to a
    throwaway location, then the standard query batch is answered from
    the index alone — the probe never trains and never shuffles the
    corpus (plan-asserted in tests). Result-identical to
    ``sim_ivfpq_topk`` by the shared ``_adc_topk_routed`` core, so it
    carries the SAME full unrolled-training oracle (``_ivfpq_sql``).
    The build runs once per version of the embeddings (``_pq_index``),
    so repeated probes — including the multiprobe twin — price only
    the probe."""
    from icnarc_to_philips_linkage_spark.operators import pq

    table = _pq_index(spark, sf)
    emb = spread(load(spark, sf, "embeddings"), "vec_id")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    return pq.probe_pq_index(spark, table, queries, k=5)


def sim_pq_index_probe2(spark: SparkSession, sf: str) -> DataFrame:
    """Multiprobe variant of ``sim_pq_index_probe`` (nprobe=2): the
    persisted index answers with the TWO nearest cells per query —
    the standard IVF recall knob, here carried through the full
    unrolled-training oracle (`_ivfpq_sql(2)` routes rn <= 2; each
    neighbor joins through its single owning cell, so no dedup is
    needed on either engine). Shares the memoized ``_pq_index`` build
    with the single-probe query."""
    from icnarc_to_philips_linkage_spark.operators import pq

    table = _pq_index(spark, sf)
    emb = spread(load(spark, sf, "embeddings"), "vec_id")
    queries = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    return pq.probe_pq_index(spark, table, queries, k=5, nprobe=2)


NEAR_DUP_T = 0.3


def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding near-dup pairs, blocked by cluster label."""
    return similarity.embedding_near_dup_pairs(
        spread(load(spark, sf, "embeddings"), "vec_id"),
        threshold=NEAR_DUP_T,
    )


def _near_dup_sql() -> str:
    return f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_cos_sql('a.embedding', 'b.embedding')} AS cos_sim
FROM embeddings a JOIN embeddings b ON a.label = b.label
WHERE a.vec_id < b.vec_id
  AND {_cos_sql('a.embedding', 'b.embedding')} >= {NEAR_DUP_T}
"""


# ---------------------------------------------------------- text analysis


# fixed literal weights for the linear quality model: the INFERENCE
# shape of a fastText-style classifier (training happens offline; batch
# scoring is columnar math). Chosen to separate long/diverse text from
# short/punctuation-heavy text on the quality signals.
_QCLS_W = {
    "bias": -1.0,
    "n_tokens": 0.01,
    "avg_token_len": 0.2,
    "punct_ratio": -4.0,
    "stopword_ratio": 2.0,
}


def quality_classifier_score(spark: SparkSession, sf: str) -> DataFrame:
    """Batch inference of a linear quality classifier over the quality
    signals: logit = w·x + b, p = sigmoid(logit), keep = p >= 0.5 —
    model scoring as pure codegen projection (no UDF, no model server;
    the weights fold in as literals, which is exactly how a trained
    linear/fastText-style filter deploys onto 100 TB). Logit rounded
    to 9dp BEFORE the sigmoid so both engines exponentiate the same
    double. Spread scan: the quality-signal derivation is heavy
    per-row CPU on a single-row-group file (no-op at real scale)."""
    df = text.with_quality(spread(load(spark, sf, "documents"), "doc_id"))
    logit = F.round(
        F.lit(_QCLS_W["bias"])
        + F.lit(_QCLS_W["n_tokens"]) * F.col("n_tokens")
        + F.lit(_QCLS_W["avg_token_len"]) * F.col("avg_token_len")
        + F.lit(_QCLS_W["punct_ratio"]) * F.col("punct_ratio")
        + F.lit(_QCLS_W["stopword_ratio"]) * F.col("stopword_ratio"),
        9,
    )
    return df.select(
        "doc_id",
        logit.alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias(
            "p_quality"
        ),
        (logit >= 0).alias("keep"),
    )


def _qcls_sql() -> str:
    # the signal derivation IS _quality_sql (already differentially
    # verified by text_quality); the classifier just applies literal
    # weights on top of those rounded columns
    w = _QCLS_W
    logit = (
        f"ROUND({w['bias']!r} + {w['n_tokens']!r} * n_tokens"
        f" + {w['avg_token_len']!r} * avg_token_len"
        f" + {w['punct_ratio']!r} * punct_ratio"
        f" + {w['stopword_ratio']!r} * stopword_ratio, 9)"
    )
    return f"""
WITH sig AS ({_quality_sql()})
SELECT doc_id, {logit} AS logit,
       ROUND(1.0 / (1.0 + exp(-{logit})), 6) AS p_quality,
       {logit} >= 0 AS keep
FROM sig
"""


# ground truth for evaluating the quality classifier: "long document"
# (n_chars >= 300, the corpus median) — a label the classifier does not
# read directly (it sees token counts and ratios), so the AUC is
# informative rather than tautological
_EVAL_LABEL_CHARS = 300


def _scored_with_label(spark: SparkSession, sf: str) -> DataFrame:
    # Persisted (doc_id, p_quality, label) frame — three scalars per
    # doc. Every consumer (roc_auc, ks_separation, avg_precision,
    # pr_thresholds, calibration, brier, hosmer) filters on the
    # DERIVED p_quality column; unpersisted, Catalyst pushed that
    # filter to the scan with the whole quality-signal pipeline
    # inlined (evaluated twice, single-task), and multi-consumer
    # operators (e.g. average_precision's eager total + rank passes)
    # replayed the scoring per consumer. The cache is a barrier: score
    # once, filter above it.
    from pyspark import StorageLevel

    lab = load(spark, sf, "documents").select(
        "doc_id", (F.col("n_chars") >= _EVAL_LABEL_CHARS).alias("label")
    )
    scored = (
        quality_classifier_score(spark, sf)
        .join(lab, "doc_id")
        .select("doc_id", "p_quality", "label")
    )
    return scored.persist(StorageLevel.MEMORY_AND_DISK)


def eval_roc_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Exact tie-aware ROC AUC of the quality classifier against the
    long-document label — integer Mann-Whitney rank arithmetic over the
    bounded distinct-score frame (see ``operators/evaluation.py``)."""
    return evaluation.roc_auc(_scored_with_label(spark, sf), "p_quality", "label")


_EVAL_LABELED = f"""
scored AS ({{qcls}}),
lab AS (
  SELECT s.p_quality AS p, d.n_chars >= {_EVAL_LABEL_CHARS} AS y
  FROM scored s JOIN documents d USING (doc_id)
  WHERE s.p_quality IS NOT NULL AND d.n_chars IS NOT NULL
)
"""


def _eval_labeled_cte() -> str:
    return _EVAL_LABELED.format(qcls=_qcls_sql())


def _roc_auc_sql() -> str:
    return f"""
WITH {_eval_labeled_cte()},
per AS (
  SELECT p, count(*) AS c, sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos
  FROM lab GROUP BY p
),
r AS (
  SELECT *,
         sum(c) OVER (ORDER BY p
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - c AS b
  FROM per
),
agg AS (
  SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(c) - sum(pos) AS BIGINT) AS n_neg,
         CAST(sum(pos * (2 * b + c + 1)) AS BIGINT) AS rs2
  FROM r
)
SELECT n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         ROUND(CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE)
               / (2.0 * n_pos * n_neg), 9)
       END AS auc
FROM agg
"""


def eval_roc_auc_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language ROC AUC of the quality classifier — the stratified
    audit that catches a filter scoring near-random on a minority
    language slice while the pooled AUC looks healthy."""
    lab = load(spark, sf, "documents").select(
        "doc_id", "lang",
        (F.col("n_chars") >= _EVAL_LABEL_CHARS).alias("label"),
    )
    scored = quality_classifier_score(spark, sf).join(lab, "doc_id")
    return evaluation.roc_auc_by(scored, "p_quality", "label", ["lang"])


def _roc_auc_by_lang_sql() -> str:
    return f"""
WITH scored AS ({_qcls_sql()}),
lab AS (
  SELECT d.lang, s.p_quality AS p, d.n_chars >= {_EVAL_LABEL_CHARS} AS y
  FROM scored s JOIN documents d USING (doc_id)
  WHERE s.p_quality IS NOT NULL AND d.n_chars IS NOT NULL
),
per AS (
  SELECT lang, p, count(*) AS c,
         sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos
  FROM lab GROUP BY lang, p
),
r AS (
  SELECT *,
         sum(c) OVER (PARTITION BY lang ORDER BY p
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - c AS b
  FROM per
),
agg AS (
  SELECT lang,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(c) - sum(pos) AS BIGINT) AS n_neg,
         CAST(sum(pos * (2 * b + c + 1)) AS BIGINT) AS rs2
  FROM r GROUP BY lang
)
SELECT lang, n_pos, n_neg,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
         ROUND(CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE)
               / (2.0 * n_pos * n_neg), 9)
       END AS auc
FROM agg
"""


def eval_ks_separation(spark: SparkSession, sf: str) -> DataFrame:
    """KS separation of the quality classifier's score distributions
    (evaluation.ks_separation): max CDF gap between positive and
    negative documents plus the score where it peaks — the
    separability statistic reported next to AUC, same
    score-grid-bounded plan shape."""
    return evaluation.ks_separation(
        _scored_with_label(spark, sf), "p_quality", "label"
    )


def _ks_separation_sql() -> str:
    return f"""
WITH {_eval_labeled_cte()},
per AS (
  SELECT p, count(*) AS c, sum(CASE WHEN y THEN 1 ELSE 0 END) AS pos
  FROM lab GROUP BY p
),
cum AS (
  SELECT p,
         sum(pos) OVER (ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
         sum(c - pos) OVER (ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         sum(pos) OVER () AS tp,
         sum(c - pos) OVER () AS tn
  FROM per
),
g AS (
  SELECT p, CAST(tp AS BIGINT) AS tp, CAST(tn AS BIGINT) AS tn,
         ROUND(ABS(CAST(cp AS DOUBLE) / tp
                   - CAST(cn AS DOUBLE) / tn), 9) AS gap
  FROM cum
)
SELECT tp AS n_pos, tn AS n_neg,
       CASE WHEN tp > 0 AND tn > 0 THEN gap END AS ks,
       CASE WHEN tp > 0 AND tn > 0 THEN p END AS ks_score
FROM g
QUALIFY row_number() OVER (ORDER BY gap DESC, p ASC) = 1
"""


def eval_ndcg_mrr(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking-quality evaluation of the multi-probe LSH ANN index
    against exact brute-force top-5 truth: per-query nDCG@5 and
    reciprocal rank (evaluation.ndcg_mrr_per_query) — WHERE the
    relevant neighbors land, complementing sim_recall_eval's WHETHER.
    FULL hash oracle: both ranking sides are deterministic and
    SQL-expressible, and the log2 discounts are integer literals from
    ``evaluation.discount_table`` embedded IDENTICALLY in the Spark
    plan and the DuckDB SQL, so the irrational discount can never
    diverge between engines."""
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    truth = similarity.knn_brute_force(emb, q, k=5)
    approx = similarity.ann_rh_lsh_multiprobe(
        emb, q, k=5, n_planes=N_PLANES, dim=DIM
    )
    return evaluation.ndcg_mrr_per_query(truth, approx, k=5)


def _ndcg_mrr_sql() -> str:
    disc = evaluation.discount_table(5)
    cum, acc = [], 0
    for d in disc:
        acc += d
        cum.append(acc)
    disc_lit = "[" + ", ".join(str(d) for d in disc) + "]"
    cum_lit = "[" + ", ".join(str(c) for c in cum) + "]"
    return f"""
WITH truth AS (
{_knn_sql()}
),
approx AS (
{_rh_lsh_multiprobe_sql()}
),
rk AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
  FROM approx
  QUALIFY rnk <= 5
),
hits AS (
  SELECT r.query_id, r.rnk
  FROM rk r JOIN truth t
    ON r.query_id = t.query_id AND r.neighbor_id = t.neighbor_id
),
hq AS (
  SELECT query_id, SUM(({disc_lit})[rnk]) AS dcg, MIN(rnk) AS frst
  FROM hits GROUP BY query_id
),
tn AS (SELECT query_id, COUNT(*) AS n_rel FROM truth GROUP BY query_id)
SELECT tn.query_id, tn.n_rel,
       ROUND(CAST(COALESCE(hq.dcg, 0) AS DOUBLE)
             / ({cum_lit})[LEAST(tn.n_rel, 5)], 6) AS ndcg,
       ROUND(COALESCE(1.0 / hq.frst, 0), 6) AS rr
FROM tn LEFT JOIN hq USING (query_id)
"""


def eval_avg_precision(spark: SparkSession, sf: str) -> DataFrame:
    """Exact average precision of the quality classifier against the
    long-document label (evaluation.average_precision): threshold-free
    PR-curve summary under the deterministic (score DESC, doc_id ASC)
    order — two distributed two-level ranks, integer per-positive
    terms. The oracle replays the identical order and integer floor
    terms with plain window row_numbers (sound in DuckDB: one engine,
    no partitioning)."""
    return evaluation.average_precision(
        _scored_with_label(spark, sf), "p_quality", "label", "doc_id"
    )


def _avg_precision_sql() -> str:
    return f"""
WITH scored AS ({_qcls_sql()}),
labd AS (
  SELECT s.doc_id, s.p_quality AS p,
         d.n_chars >= {_EVAL_LABEL_CHARS} AS y
  FROM scored s JOIN documents d USING (doc_id)
  WHERE s.p_quality IS NOT NULL AND d.n_chars IS NOT NULL
),
r AS (
  SELECT doc_id, p, y,
         row_number() OVER (ORDER BY p DESC, doc_id ASC) AS r
  FROM labd
),
pos AS (
  SELECT r, row_number() OVER (ORDER BY r ASC) AS j FROM r WHERE y
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pos,
         SUM((j * 1000000000) // r) AS s
  FROM pos
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM labd)
SELECT agg.n_pos, tot.n,
       CASE WHEN agg.n_pos > 0
            THEN ROUND(CAST(agg.s AS DOUBLE) / (agg.n_pos * 1e9), 6)
       END AS avg_precision
FROM agg, tot
"""


_EVAL_THRESHOLDS = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


def eval_pr_thresholds(spark: SparkSession, sf: str) -> DataFrame:
    """Precision/recall/F1/accuracy sweep of the quality classifier at a
    fixed 9-point threshold grid — one conditional aggregation."""
    return evaluation.pr_at_thresholds(
        _scored_with_label(spark, sf), "p_quality", "label",
        _EVAL_THRESHOLDS,
    )


def _pr_thresholds_sql() -> str:
    grid = ", ".join(f"CAST({t!r} AS DOUBLE)" for t in _EVAL_THRESHOLDS)
    prec = "CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END"
    rec = "CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END"
    return f"""
WITH {_eval_labeled_cte()},
grid AS (SELECT unnest([{grid}]) AS threshold),
conf AS (
  SELECT g.threshold,
         CAST(sum(CASE WHEN l.p >= g.threshold AND l.y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN l.p >= g.threshold AND NOT l.y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN l.p < g.threshold AND l.y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         CAST(sum(CASE WHEN l.p < g.threshold AND NOT l.y THEN 1 ELSE 0 END) AS BIGINT) AS tn
  FROM lab l CROSS JOIN grid g
  GROUP BY g.threshold
)
SELECT threshold, tp, fp, fn, tn,
       ROUND({prec}, 6) AS precision,
       ROUND({rec}, 6) AS recall,
       ROUND(CASE WHEN {prec} IS NOT NULL AND {rec} IS NOT NULL
                   AND {prec} + {rec} > 0
             THEN 2.0 * {prec} * {rec} / ({prec} + {rec}) END, 6) AS f1,
       ROUND(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy
FROM conf
"""


def curate_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy highest-quality-first selection under a token budget of
    30% of the corpus (sampling.select_token_budget): whole documents,
    ordered (p_quality DESC, doc_id), kept while the running token sum
    fits. The budget scalar derives from one 1-row aggregate; the
    prefix sum is the distributed two-level pack_sequences shape, not
    a single-task global window."""
    # r12 optimization (guide §5/§8, §2.4): n_tokens and p_quality
    # both derive from ONE with_quality projection — the old shape
    # ran text_quality and quality_classifier_score as two separate
    # single-task document pipelines and joined them on doc_id. The
    # scan is spread (documents.parquet is one row group → one task
    # otherwise), the classifier logit is the same literal fold as
    # quality_classifier_score (same rounding, so p_quality is
    # bit-identical to the joined form), and the 3-column doc-grain
    # frame persists so the budget total and the selection pass run
    # the scoring pipeline once.
    wq = text.with_quality(spread(load(spark, sf, "documents"), "doc_id"))
    logit = F.round(
        F.lit(_QCLS_W["bias"])
        + F.lit(_QCLS_W["n_tokens"]) * F.col("n_tokens")
        + F.lit(_QCLS_W["avg_token_len"]) * F.col("avg_token_len")
        + F.lit(_QCLS_W["punct_ratio"]) * F.col("punct_ratio")
        + F.lit(_QCLS_W["stopword_ratio"]) * F.col("stopword_ratio"),
        9,
    )
    docs = (
        wq.select(
            "doc_id",
            "n_tokens",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias(
                "p_quality"
            ),
        )
        .filter(F.col("p_quality").isNotNull() & (F.col("n_tokens") > 0))
        .persist()
    )
    total = docs.agg(F.sum("n_tokens")).collect()[0][0] or 0
    return sampling.select_token_budget(
        docs, budget_tokens=max(1, total * 3 // 10)
    )


def _token_budget_sql() -> str:
    return f"""
WITH qual AS ({_quality_sql()}),
scored AS ({_qcls_sql()}),
d AS (
  SELECT qual.doc_id, scored.p_quality, qual.n_tokens
  FROM qual JOIN scored USING (doc_id)
  WHERE scored.p_quality IS NOT NULL AND qual.n_tokens > 0
),
tot AS (
  SELECT GREATEST(1, CAST(sum(n_tokens) AS BIGINT) * 3 // 10) AS budget
  FROM d
),
c AS (
  SELECT doc_id, p_quality, n_tokens,
         CAST(sum(n_tokens) OVER (
           ORDER BY p_quality DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_tokens
  FROM d
)
SELECT doc_id, p_quality, n_tokens, cum_tokens
FROM c, tot WHERE cum_tokens <= budget
"""


def sample_unimax_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """UniMax training-mix allocation across the 20 document sources:
    waterfill the corpus-total token budget as uniformly as possible
    with a 1.05-epoch per-source cap (sampling.unimax_allocation) —
    below-average sources cap, the rest share the remainder evenly.
    The closed-form level search runs on the |sources|-row aggregate
    in integer cross-multiplied comparisons."""
    q = text_quality(spark, sf).select("doc_id", "n_tokens")
    d = load(spark, sf, "documents").select("doc_id", "source")
    return sampling.unimax_allocation(
        d.join(q, "doc_id"), budget_tokens=None, max_epochs_pct=105
    ).orderBy("source")


def _unimax_sql() -> str:
    return f"""
WITH qual AS ({_quality_sql()}),
per AS (
  SELECT d.source, CAST(sum(q.n_tokens) AS BIGINT) AS corpus_tokens
  FROM documents d JOIN qual q USING (doc_id)
  GROUP BY d.source
  HAVING sum(q.n_tokens) > 0
),
caps AS (
  SELECT source, corpus_tokens,
         CAST(FLOOR(corpus_tokens * 105 / 100) AS BIGINT) AS cap_tokens
  FROM per
),
tot AS (SELECT CAST(sum(corpus_tokens) AS BIGINT) AS budget FROM caps),
idx AS (
  SELECT *,
         row_number() OVER (ORDER BY cap_tokens, source) AS i,
         sum(cap_tokens) OVER (ORDER BY cap_tokens, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
         count(*) OVER () AS n,
         lag(cap_tokens, 1, 0) OVER (ORDER BY cap_tokens, source)
           AS prev_cap
  FROM caps
),
lvl AS (
  SELECT i - 1 AS k,
         budget - (p - cap_tokens) AS rem,
         n - (i - 1) AS slots
  FROM idx, tot
  WHERE cap_tokens * (n - i + 1) > budget - (p - cap_tokens)
    AND prev_cap * (n - i + 1) <= budget - (p - cap_tokens)
  ORDER BY i LIMIT 1
)
SELECT source, corpus_tokens, cap_tokens,
       CASE WHEN k IS NULL OR i <= k THEN CAST(cap_tokens AS DOUBLE)
            ELSE ROUND(CAST(rem AS DOUBLE) / slots, 6) END
         AS alloc_tokens,
       ROUND((CASE WHEN k IS NULL OR i <= k
                   THEN CAST(cap_tokens AS DOUBLE)
                   ELSE ROUND(CAST(rem AS DOUBLE) / slots, 6) END)
             / corpus_tokens, 6) AS epochs,
       (k IS NULL OR i <= k) AS capped
FROM idx LEFT JOIN lvl ON TRUE
"""


def eval_calibration_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability-diagram bins of the quality classifier: mean
    predicted probability vs empirical positive rate per decile bin;
    ``sum(ece_contrib)`` is the expected calibration error."""
    return evaluation.calibration_bins(
        _scored_with_label(spark, sf), "p_quality", "label", bins=10
    )


def _calibration_sql() -> str:
    return f"""
WITH {_eval_labeled_cte()},
binned AS (
  SELECT LEAST(9, CAST(FLOOR(p * 10) AS INT)) AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS sp,
         CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM lab GROUP BY 1
),
tot AS (SELECT *, sum(n) OVER () AS n_tot FROM binned)
SELECT bin, n,
       ROUND(sp / n, 6) AS mean_p,
       ROUND(CAST(pos AS DOUBLE) / n, 6) AS pos_rate,
       ROUND(ABS(sp / n - CAST(pos AS DOUBLE) / n) * n / n_tot, 6)
         AS ece_contrib
FROM tot
"""


def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    df = text.with_quality(load(spark, sf, "documents"))
    return df.select(
        "doc_id", "n_chars_calc", "n_tokens", "avg_token_len",
        "punct_ratio", "stopword_ratio",
    )


def _quality_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH base AS (
  SELECT doc_id, text, {_TOKS} AS t,
         regexp_replace(text, '\\s+', '', 'g') AS no_ws
  FROM documents
)
SELECT doc_id,
       LENGTH(text) AS n_chars_calc,
       len(t) AS n_tokens,
       ROUND(LENGTH(no_ws) * 1.0 / GREATEST(len(t), 1), 6) AS avg_token_len,
       ROUND(LENGTH(regexp_replace(lower(no_ws), '[a-z0-9]', '', 'g')) * 1.0
             / GREATEST(LENGTH(text), 1), 6) AS punct_ratio,
       ROUND(len(list_filter(t, w -> w IN ({stop}))) * 1.0
             / GREATEST(len(t), 1), 6) AS stopword_ratio
FROM base
"""


def text_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    df = text.with_lang_id(load(spark, sf, "documents"))
    return df.select(
        "doc_id", *[f"score_{lg}" for lg in LANG_MARKERS], "lang_pred"
    )


def _lang_id_sql() -> str:
    score_cols = ",\n       ".join(
        f"len(list_filter(t, w -> w IN ({', '.join(repr(w) for w in words)}))) AS score_{lg}"
        for lg, words in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    best = f"GREATEST({', '.join('score_' + lg for lg in langs)})"
    whens = " ".join(
        f"WHEN score_{lg} = {best} THEN '{lg}'" for lg in langs
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
scored AS (
  SELECT doc_id,
       {score_cols}
  FROM toks
)
SELECT doc_id, {', '.join('score_' + lg for lg in langs)},
       CASE WHEN {best} = 0 THEN 'unknown' {whens} END AS lang_pred
FROM scored
"""


def text_lang_id_chargram(spark: SparkSession, sf: str) -> DataFrame:
    """Character-trigram-profile language ID (the n-gram variant)."""
    df = text.with_lang_id_chargram(load(spark, sf, "documents"))
    return df.select(
        "doc_id",
        *[f"cscore_{lg}" for lg in text.CHAR_TRIGRAM_PROFILES],
        "lang_pred_chargram",
    )


def _lang_chargram_sql() -> str:
    def hits(g: str) -> str:
        # occurrences via split-length, mirroring the Spark expression
        backslash = chr(92)
        esc = "".join(
            (backslash + ch) if not ch.isalnum() else ch
            for ch in g.replace("'", "''")
        )
        return f"(len(string_split_regex(lower(text), '{esc}')) - 1)"

    score_cols = ",\n       ".join(
        " + ".join(hits(g) for g in grams) + f" AS cscore_{lg}"
        for lg, grams in text.CHAR_TRIGRAM_PROFILES.items()
    )
    langs = list(text.CHAR_TRIGRAM_PROFILES)
    best = f"GREATEST({', '.join('cscore_' + lg for lg in langs)})"
    whens = " ".join(f"WHEN cscore_{lg} = {best} THEN '{lg}'" for lg in langs)
    return f"""
WITH scored AS (
  SELECT doc_id,
       {score_cols}
  FROM documents
)
SELECT doc_id, {', '.join('cscore_' + lg for lg in langs)},
       CASE WHEN {best} = 0 THEN 'unknown' {whens} END AS lang_pred_chargram
FROM scored
"""


def text_bpe_ish_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-pre-tokenizer-style token counting (alpha/digit/punct runs)."""
    d = load(spark, sf, "documents")
    return d.select(
        "doc_id", text.bpe_ish_token_count("text").alias("n_bpe_tokens")
    )


BPE_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{text.BPE_ISH_PATTERN}')) AS n_bpe_tokens
FROM documents
"""


def text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    return text.with_fingerprint(load(spark, sf, "documents")).select(
        "doc_id", "fingerprint"
    )


def _fingerprint_sql() -> str:
    n = SHINGLE_N
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
SELECT doc_id,
       list_min(list_transform(
         CASE WHEN len(t) < {n} THEN [array_to_string(t, ' ')]
              ELSE list_distinct(list_transform(
                     generate_series(1, len(t) - {n - 1}),
                     i -> concat_ws(' ', t[i], t[i+1], t[i+2])))
         END,
         s -> md5(s))) AS fingerprint
FROM toks
"""


def ud3_grouped_agg_weighted_median(
    spark: SparkSession, sf: str
) -> DataFrame:
    """UD3: the GROUPED-AGGREGATE pandas UDF surface (the third Arrow
    shape beside scalar UDFs and grouped-map applyInPandas): a
    token-count-weighted median of document length per language. The
    statistic is deterministic (lower weighted median: smallest value
    whose cumulative weight reaches half the total), so the exact SQL
    oracle fully checks the UDF path. Each group's columns arrive as
    whole pandas Series — fine for dim-bounded groups like languages;
    corpus-keyed groups belong in native aggregates."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def wmedian(values: pd.Series, weights: pd.Series) -> int:
        d = (
            pd.DataFrame({"v": values, "w": weights})
            .dropna()
            .sort_values("v")
        )
        if d.empty:
            return None
        cum = d["w"].cumsum()
        half = d["w"].sum() / 2.0
        return int(d.loc[cum >= half, "v"].iloc[0])

    docs = (
        load(spark, sf, "documents")
        # explicit null gate so engine semantics match the oracle's
        # `n_chars IS NOT NULL` filter even if documents ever carry
        # NULL n_chars (the UDF dropna and the native n_docs count
        # would otherwise diverge)
        .filter(F.col("n_chars").isNotNull())
        .select(
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.size(F.split(F.trim(F.lower("text")), r"\s+"))
            .cast("double")
            .alias("w"),
        )
    )
    # grouped-agg pandas UDFs cannot mix with native aggregates in one
    # agg() — the counts come from a separate native aggregation and a
    # broadcast join over the language dim
    med = docs.groupBy("lang").agg(
        wmedian("n_chars", "w").alias("weighted_median_chars")
    )
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return med.join(F.broadcast(counts), "lang")


UD3_SQL = """
WITH w AS (
  SELECT lang, n_chars,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+'))
              AS DOUBLE) AS w
  FROM documents WHERE n_chars IS NOT NULL
),
cum AS (
  SELECT lang, n_chars,
         SUM(w) OVER (PARTITION BY lang ORDER BY n_chars
                      ROWS UNBOUNDED PRECEDING) AS c,
         SUM(w) OVER (PARTITION BY lang) AS tot
  FROM w
),
med AS (
  SELECT lang, MIN(n_chars) AS weighted_median_chars
  FROM cum WHERE c >= tot / 2.0 GROUP BY lang
)
SELECT m.lang, m.weighted_median_chars, n.n_docs
FROM med m JOIN (SELECT lang, COUNT(*) AS n_docs FROM w GROUP BY lang) n
  ON m.lang = n.lang
"""

def ud2_pandas_udf_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """UD2: the engine's *escape hatch* surface — an Arrow-batched scalar
    pandas UDF — demonstrated on a computation that also has a native
    form (token counting), so the oracle can fully check it. Policy
    (SURVEY §2.10): native expressions first; this path exists for
    semantics Catalyst can't express, and is Arrow-vectorized, never
    row-at-a-time."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def n_tokens(texts: pd.Series) -> pd.Series:
        return texts.str.strip().str.lower().str.split(r"\s+").str.len()

    d = load(spark, sf, "documents")
    return d.select("doc_id", n_tokens("text").alias("n_tokens"))


UD2_SQL = f"""
SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents
"""


SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
STRATA_FRACTIONS = {"en": 0.5}  # downsample the dominant language
STRATA_DEFAULT = 1.0


def sample_weighted_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Weight-proportional deterministic sampling: documents kept with
    probability min(1, 0.5 * n_chars / max(n_chars)) — longer (here
    standing in for higher-quality) documents oversampled, membership
    reproducible across engines and partitionings."""
    docs = load(spark, sf, "documents")
    return sampling.weighted_hash_sample(
        docs, "doc_id", "n_chars", scale=0.5, salt="wq"
    ).select("doc_id", "n_chars")


_WQ_P = "round(LEAST(1.0, 0.5 * CAST(n_chars AS DOUBLE) / wmax), 6)"
WEIGHTED_SAMPLE_SQL = f"""
WITH mx AS (SELECT CAST(MAX(n_chars) AS DOUBLE) AS wmax FROM documents)
SELECT doc_id, n_chars
FROM documents, mx
WHERE substr(md5('wq:' || CAST(doc_id AS VARCHAR)), 1, 8) <
      CASE WHEN {_WQ_P} >= 1.0 THEN 'g'
           ELSE printf('%08x', CAST(FLOOR({_WQ_P} * 4294967296.0) AS BIGINT))
      END
"""


def sample_hash_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split (hash-band membership — no
    RNG, stable under repartitioning and across engines), summarized per
    split."""
    docs = load(spark, sf, "documents")
    split = sampling.hash_split(docs, "doc_id", SPLIT_FRACTIONS)
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
    )


def _split_sql() -> str:
    from icnarc_to_philips_linkage_spark.operators.sampling import (
        _threshold_hex,
    )

    cases, cum = [], 0.0
    for name, frac in SPLIT_FRACTIONS.items():
        cum += frac  # same accumulation order as hash_split → same floats
        cases.append(f"WHEN bucket < '{_threshold_hex(cum)}' THEN '{name}'")
    return f"""
WITH b AS (
  SELECT n_chars,
         substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) AS bucket
  FROM documents
)
SELECT CASE {' '.join(cases)} END AS split,
       COUNT(*) AS n_docs, SUM(n_chars) AS chars_total
FROM b GROUP BY 1
"""


def sample_stratified_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Per-stratum deterministic downsampling (keep 50% of 'en', all of
    the rest), summarized per language."""
    docs = load(spark, sf, "documents")
    s = sampling.stratified_hash_sample(
        docs, "doc_id", "lang", STRATA_FRACTIONS,
        default_fraction=STRATA_DEFAULT,
    )
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
    )


def _stratified_sql() -> str:
    from icnarc_to_philips_linkage_spark.operators.sampling import (
        _threshold_hex,
    )

    whens = " ".join(
        f"WHEN lang = '{v}' THEN '{_threshold_hex(f)}'"
        for v, f in STRATA_FRACTIONS.items()
    )
    return f"""
SELECT lang, COUNT(*) AS n_docs, SUM(n_chars) AS chars_total
FROM documents
WHERE substr(md5('stratified:' || CAST(doc_id AS VARCHAR)), 1, 8)
      < CASE {whens} ELSE '{_threshold_hex(STRATA_DEFAULT)}' END
GROUP BY lang
"""


def sample_epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """First 100 documents of the epoch-1 deterministic shuffle order —
    the reproducible data-loader permutation (different per epoch,
    identical across engines/partitionings)."""
    d = sampling.epoch_shuffle(
        load(spark, sf, "documents"), "doc_id", epoch=1
    )
    return (
        d.orderBy("shuffle_key", "doc_id")
        .limit(100)
        .select("doc_id", "shuffle_key")
    )


EPOCH_SHUFFLE_SQL = """
SELECT doc_id, md5('epoch:1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
FROM documents ORDER BY 2, 1 LIMIT 100
"""

MIXTURE_TARGET = {"en": 0.4, "de": 0.2, "fr": 0.2, "es": 0.2}  # zh drops


def sample_mixture_balance(spark: SparkSession, sf: str) -> DataFrame:
    """Domain-mixture balancing to 40/20/20/20 en/de/fr/es (zh outside
    the target mixture drops), summarized per language. The keep
    fractions derive from the data (largest no-upsampling corpus), the
    membership from the deterministic hash — both engines replicate the
    arithmetic exactly (6dp rounding before the hex threshold)."""
    docs = load(spark, sf, "documents")
    bal = sampling.mixture_balance(docs, "doc_id", "lang", MIXTURE_TARGET)
    return bal.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


def _mixture_sql() -> str:
    values = ", ".join(
        f"('{d}', {s})" for d, s in MIXTURE_TARGET.items()
    )
    return f"""
WITH counts AS (SELECT lang AS dom, COUNT(*) AS c FROM documents GROUP BY 1),
t(dom, share) AS (VALUES {values}),
fr AS (
  SELECT dom,
         ROUND(LEAST(1.0, share * (SELECT MIN(c / share) FROM counts JOIN t USING (dom) WHERE share > 0) / c), 6) AS f
  FROM counts JOIN t USING (dom) WHERE share > 0
)
SELECT d.lang, COUNT(*) AS n_docs
FROM documents d JOIN fr ON d.lang = fr.dom
WHERE substr(md5('mixture:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
      < CASE WHEN f >= 1 THEN 'g'
             ELSE printf('%08x', CAST(FLOOR(f * 4294967296.0) AS BIGINT)) END
GROUP BY 1
"""


def curate_documents(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end curation composite — the whole point of the engine in
    ONE lazy plan: quality-score → threshold filter → exact-dedup keeper
    selection → surviving corpus with quality columns. Catalyst fuses
    the scoring projection into the scan; the only shuffle is the dedup
    groupBy."""
    d = text.with_quality(load(spark, sf, "documents"))
    filtered = d.filter(
        (F.col("n_tokens") >= 20) & (F.col("punct_ratio") <= 0.2)
    )
    keepers = (
        filtered.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return (
        filtered.join(keepers, on="doc_id", how="left_semi")
        .select("doc_id", "n_tokens", "stopword_ratio", "punct_ratio")
    )


CURATE_SQL = f"""
WITH scored AS (
  SELECT doc_id, text,
         len({_TOKS}) AS n_tokens,
         ROUND(len(list_filter({_TOKS}, w -> w IN ({', '.join(repr(w) for w in STOPWORDS)}))) * 1.0
               / GREATEST(len({_TOKS}), 1), 6) AS stopword_ratio,
         ROUND(LENGTH(regexp_replace(lower(regexp_replace(text, '\\s+', '', 'g')), '[a-z0-9]', '', 'g')) * 1.0
               / GREATEST(LENGTH(text), 1), 6) AS punct_ratio
  FROM documents
),
filtered AS (
  SELECT * FROM scored WHERE n_tokens >= 20 AND punct_ratio <= 0.2
),
keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM filtered GROUP BY md5(text)
)
SELECT f.doc_id, f.n_tokens, f.stopword_ratio, f.punct_ratio
FROM filtered f WHERE f.doc_id IN (SELECT doc_id FROM keepers)
"""


def multimodal_phash_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end image near-dup pipeline over SYNTHESIZED PNGs (the
    testdata ships no image bytes): render a deterministic gradient
    PNG per document id with planted near-duplicates, REAL-decode the
    pixels (stdlib zlib), dHash, and find pairs via the Hamming-banded
    join. Rows-only for the driver (no SQL engine decodes PNGs);
    the planted-pair recall is pinned by pytest."""
    from icnarc_to_philips_linkage_spark.operators import multimodal

    ids = (
        load(spark, sf, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 200)
    )
    media = multimodal.synth_png_media(ids)
    hashes = multimodal.perceptual_dhash(media)
    return multimodal.phash_neardup(hashes, max_hamming=6).orderBy(
        "id_a", "id_b"
    )


def _phash_sql() -> str:
    """FULL hash oracle for the PNG→decode→dHash→banded-join pipeline —
    no SQL engine decodes PNGs, but none needs to: the synthesized
    image is a CLOSED-FORM function of media_id (pixel =
    min(255, md5(base:x:y)[0] + checker·noise), synth_png_media), the
    PNG encode/decode round-trip is lossless, and the 16x16 dHash
    block means divide by powers of two (blocks of 2 or 4 pixels — so
    the float comparisons in ``_dhash64`` are EXACT and equal integer
    cross-multiplication sv_a·n_b < sv_b·n_a). DuckDB therefore
    recomputes every pixel from md5 directly, derives the 8x9 grid by
    integer block sums, the 64 dHash bits, and per-bit-position
    hamming for all pairs — bit-for-bit the engine's result, checked
    through the real decode path."""
    hex_lo = (
        "(strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(h, 2, 1)) - 1)"
    )
    return f"""
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id < 200
),
px AS (
  SELECT media_id, x, y,
         LEAST(255, {hex_lo} + ((x + y) % 2) * noise) AS v
  FROM (
    SELECT media_id, xs.g AS x, ys.g AS y,
           CASE WHEN media_id % 13 = 0 THEN 1 ELSE 0 END AS noise,
           substr(md5(concat_ws(':',
             media_id - CASE WHEN media_id % 13 = 0 THEN 1 ELSE 0 END,
             xs.g, ys.g)), 1, 2) AS h
    FROM ids,
         unnest(generate_series(0, 15)) AS xs(g),
         unnest(generate_series(0, 15)) AS ys(g))
),
grid AS (
  SELECT media_id, y // 2 AS r, (9 * x + 8) // 16 AS c,
         SUM(v) AS sv, COUNT(*) AS n
  FROM px GROUP BY 1, 2, 3
),
bits AS (
  SELECT a.media_id, a.r, a.c, (a.sv * b.n < b.sv * a.n) AS bit
  FROM grid a JOIN grid b
    ON a.media_id = b.media_id AND a.r = b.r AND b.c = a.c + 1
  WHERE a.c < 8
)
SELECT id_a, id_b, hamming FROM (
  SELECT a.media_id AS id_a, b.media_id AS id_b,
         CAST(SUM(CASE WHEN a.bit != b.bit THEN 1 ELSE 0 END) AS INT)
           AS hamming
  FROM bits a JOIN bits b
    ON a.r = b.r AND a.c = b.c AND a.media_id < b.media_id
  GROUP BY 1, 2)
WHERE hamming <= 6
"""


def multimodal_audio_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end audio near-dup pipeline over SYNTHESIZED WAVs (the
    testdata ships no audio bytes): render a deterministic 8-bit PCM
    clip per document id with planted near-duplicates, REAL-decode the
    samples (stdlib wave), energy-delta fingerprint, and find pairs
    via the same banded Hamming join the image path uses."""
    from icnarc_to_philips_linkage_spark.operators import multimodal

    ids = (
        load(spark, sf, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 200)
    )
    media = multimodal.synth_wav_media(ids)
    fps = multimodal.audio_energy_fingerprint(media)
    return multimodal.phash_neardup(
        fps, max_hamming=6, hash_col="afp"
    ).orderBy("id_a", "id_b")


def _audio_neardup_sql() -> str:
    """FULL hash oracle for the WAV→decode→fingerprint→banded-join
    pipeline, no audio decode needed (the _phash_sql technique): the
    synthetic frame amplitude is a closed-form md5 byte, samples
    alternate ±h/128, so frame energy orderings reduce to integer
    comparisons of h — DuckDB recomputes every fingerprint bit from
    md5 directly and re-derives the Hamming pairs."""
    hex_lo = (
        "(strpos('0123456789abcdef', substr(hh, 1, 1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(hh, 2, 1)) - 1)"
    )
    return f"""
WITH ids AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id < 200
),
amp AS (
  SELECT media_id, f,
         LEAST(127, ({hex_lo}) // 2
               + CASE WHEN media_id % 13 = 0 AND f % 29 = 3
                      THEN 9 ELSE 0 END) AS h
  FROM (
    SELECT media_id, fs.g AS f,
           substr(md5(concat_ws(':',
             media_id - CASE WHEN media_id % 13 = 0 THEN 1 ELSE 0 END,
             fs.g)), 1, 2) AS hh
    FROM ids, unnest(generate_series(0, 63)) AS fs(g))
),
bits AS (
  SELECT a.media_id, a.f AS pos, (b.h > a.h) AS bit
  FROM amp a JOIN amp b ON a.media_id = b.media_id AND b.f = a.f + 1
  WHERE a.f < 63
)
SELECT id_a, id_b, hamming FROM (
  SELECT a.media_id AS id_a, b.media_id AS id_b,
         CAST(SUM(CASE WHEN a.bit != b.bit THEN 1 ELSE 0 END) AS INT)
           AS hamming
  FROM bits a JOIN bits b
    ON a.pos = b.pos AND a.media_id < b.media_id
  GROUP BY 1, 2)
WHERE hamming <= 6
"""


def multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing demo: text treated as an opaque binary payload
    — byte length + content digest, the typed-metadata pattern every
    image/audio column uses (see operators/multimodal.py for the
    decode/resize stubs)."""
    d = load(spark, sf, "documents")
    blob = F.encode(F.col("text"), "utf-8")
    return d.select(
        "doc_id",
        F.length(blob).alias("n_bytes"),
        F.md5(F.col("text")).alias("content_hash"),
    )


MULTIMODAL_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_hash
FROM documents
"""


def text_tfidf_topterms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 terms per document by TF-IDF: one corpus explode feeds both
    the term-frequency and document-frequency aggregates; scores rounded
    to 6dp before a term-tiebroken rank (engine-portable ordering)."""
    return text.tfidf_top_terms(load(spark, sf, "documents"), k=3)


TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> ''
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ROUND(tf.tf * ln(n.n_docs / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term, tf, tfidf, rk FROM ranked WHERE rk <= 3
"""


def text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate word-trigram ratio per document (boilerplate / looping-
    text curation signal) — map-only higher-order expressions."""
    return text.with_repetition(load(spark, sf, "documents")).select(
        "doc_id", "n_grams", "dup_gram_ratio"
    )


REPETITION_SQL = f"""
WITH g AS (
  SELECT doc_id,
         CASE WHEN len({_TOKS}) < 3 THEN []
              ELSE list_transform(generate_series(1, len({_TOKS}) - 2),
                                  i -> array_to_string(({_TOKS})[i:i+2], ' '))
         END AS grams
  FROM documents
)
SELECT doc_id,
       len(grams) AS n_grams,
       CASE WHEN len(grams) <= 0 THEN 0.0
            ELSE ROUND((len(grams) - len(list_distinct(grams))) * 1.0
                       / len(grams), 6)
       END AS dup_gram_ratio
FROM g
"""


def text_lexical_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document type/token ratio (text.lexical_diversity): map-only
    split/array_distinct projection — the lexical-diversity quality
    screen beside the repetition and n-gram-LM signals."""
    return text.lexical_diversity(load(spark, sf, "documents"))


LEXICAL_DIVERSITY_SQL = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_types,
       ROUND(len(list_distinct(string_split(text, ' '))) * 1.0
             / len(string_split(text, ' ')), 6) AS ttr
FROM documents
"""


def text_corpus_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus vocabulary profile: token total, vocabulary size, hapax
    count, type-token ratio — one pass over the exploded corpus."""
    return text.corpus_stats(load(spark, sf, "documents"))


CORPUS_STATS_SQL = f"""
WITH per_term AS (
  SELECT term, COUNT(*) AS c
  FROM (SELECT unnest({_TOKS}) AS term FROM documents)
  WHERE term <> ''
  GROUP BY term
)
SELECT SUM(c) AS n_tokens,
       COUNT(*) AS vocab,
       COUNT(*) FILTER (c = 1) AS hapax,
       ROUND(COUNT(*) * 1.0 / SUM(c), 6) AS type_token_ratio
FROM per_term
"""


def text_vocab_richness(spark: SparkSession, sf: str) -> DataFrame:
    """Chao1 + Good-Turing vocabulary richness
    (text.vocab_richness_report): the bias-corrected lower bound on
    TRUE vocabulary size and the unseen-type mass — 'is another
    crawl worth it' in two numbers. One exploded-token aggregation
    to the term dictionary, then a single-row conditional reduce."""
    return text.vocab_richness_report(load(spark, sf, "documents"))


VOCAB_RICHNESS_SQL = f"""
WITH per_term AS (
  SELECT term, COUNT(*) AS c
  FROM (SELECT unnest({_TOKS}) AS term FROM documents)
  WHERE term <> ''
  GROUP BY term
),
agg AS (
  SELECT SUM(c) AS n_tokens,
         COUNT(*) AS vocab_size,
         COUNT(*) FILTER (c = 1) AS f1_singletons,
         COUNT(*) FILTER (c = 2) AS f2_doubletons
  FROM per_term
)
SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(vocab_size AS BIGINT) AS vocab_size,
  CAST(f1_singletons AS BIGINT) AS f1_singletons,
  CAST(f2_doubletons AS BIGINT) AS f2_doubletons,
  ROUND(CAST(vocab_size AS DOUBLE)
        + CAST(f1_singletons AS DOUBLE)
          * (CAST(f1_singletons AS DOUBLE) - 1.0)
          / (2.0 * (CAST(f2_doubletons AS DOUBLE) + 1.0)),
        6) AS chao1_estimate,
  ROUND(CAST(f1_singletons AS DOUBLE) / CAST(n_tokens AS DOUBLE), 9)
    AS unseen_mass,
  ROUND(1.0 - CAST(f1_singletons AS DOUBLE)
              / CAST(n_tokens AS DOUBLE), 9) AS coverage
FROM agg
"""


def text_pmi_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    """Top-25 bigram collocations by pointwise mutual information
    (count >= 5 floor): bigram and unigram counts each aggregate one
    exploded pass; the two unigram joins are dictionary-keyed; corpus
    totals ride along as a broadcast 1-row scalar. PMI rounds to 6dp
    before the (pmi, w1, w2) top-k so ordering is engine-portable."""
    d = load(spark, sf, "documents")
    t = d.select(text.tokens("text").alias("t"))
    uni = (
        t.select(F.explode("t").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
    )
    bi = (
        t.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> struct(element_at(t, i) AS w1,"
                    "             element_at(t, i + 1) AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cb"))
    )
    totals = uni.agg(F.sum("cu").cast("double").alias("__nu")).crossJoin(
        bi.agg(F.sum("cb").cast("double").alias("__nb"))
    )
    scored = (
        bi.filter(F.col("cb") >= 5)
        .join(uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2")), "w2")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("cb") / F.col("__nb"))
                    / ((F.col("cu1") / F.col("__nu")) * (F.col("cu2") / F.col("__nu")))
                ),
                6,
            ),
        )
    )
    return (
        scored.select("w1", "w2", "cb", "pmi")
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(25)
    )


PMI_SQL = f"""
WITH t AS (SELECT {_TOKS} AS t FROM documents),
uni AS (
  SELECT w, COUNT(*) AS cu
  FROM (SELECT unnest(t) AS w FROM t) WHERE w <> '' GROUP BY w
),
bi AS (
  SELECT w1, w2, COUNT(*) AS cb
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> {{'w1': t[i], 'w2': t[i + 1]}}),
                  recursive := true)
    FROM t
  )
  WHERE w1 <> '' AND w2 <> ''
  GROUP BY w1, w2
),
tot AS (
  SELECT (SELECT CAST(SUM(cu) AS DOUBLE) FROM uni) AS nu,
         (SELECT CAST(SUM(cb) AS DOUBLE) FROM bi) AS nb
)
SELECT bi.w1, bi.w2, bi.cb,
       ROUND(ln((bi.cb / tot.nb) /
                ((u1.cu / tot.nu) * (u2.cu / tot.nu))), 6) AS pmi
FROM bi
JOIN uni u1 ON u1.w = bi.w1
JOIN uni u2 ON u2.w = bi.w2
CROSS JOIN tot
WHERE bi.cb >= 5
ORDER BY pmi DESC, bi.w1, bi.w2
LIMIT 25
"""


def text_chunk_windows(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window chunking: 50-token chunks, 10-token overlap
    (stride 40) — map-side explode+slice, the LLM-context prep step."""
    return text.chunk_documents(
        load(spark, sf, "documents"), width=50, overlap=10
    )


CHUNK_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS s FROM documents),
st AS (
  SELECT doc_id, s,
         unnest(generate_series(1, greatest(len(s), 1), 40)) AS start
  FROM t
)
SELECT doc_id,
       CAST((start - 1) / 40 AS INT) AS chunk_idx,
       array_to_string(s[start:start + 49], ' ') AS chunk,
       len(s[start:start + 49]) AS chunk_tokens
FROM st
"""


DECONTAM_N = 13  # canonical benchmark-overlap n-gram length
# doc_id % mod == 0 plays the benchmark set; 31 gives a nonzero
# contaminated set at every test scale (2/2/17 docs at sf0.001/.01/.1)
DECONTAM_BENCH_MOD = 31


# threshold set to flag the close tail of the synthetic embedding
# space (max bench-corpus cosine ~0.49); production uses ~0.95+
_EMB_DECONTAM_T, _EMB_DECONTAM_NBENCH = 0.35, 10


def decontam_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space decontamination — the semantic complement of the
    n-gram report: EVERY corpus vector whose cosine to ANY benchmark
    vector (vec_id < 10, broadcast) clears the threshold is flagged
    with its closest benchmark item. The screen is per CORPUS doc —
    all (corpus, bench) pairs above the threshold survive to the
    aggregation, not just each benchmark's single nearest neighbor
    (a top-1-per-bench cut would cap the flag count at |bench| and
    silently under-report contamination). Same broadcast shape as
    knn_brute_force: the corpus never shuffles; the tiny bench side
    broadcasts, then one aggregation keyed by the flagged doc."""
    from icnarc_to_philips_linkage_spark.operators import similarity

    emb = load(spark, sf, "embeddings")
    bench = emb.filter(F.col("vec_id") < _EMB_DECONTAM_NBENCH).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        similarity.norm_sq("embedding").alias("q_nsq"),
    )
    corpus = emb.filter(F.col("vec_id") >= _EMB_DECONTAM_NBENCH).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("c_vec"),
        similarity.norm_sq("embedding").alias("c_nsq"),
    )
    sims = (
        corpus.crossJoin(F.broadcast(bench))
        .select(
            "doc_id",
            "query_id",
            F.round(
                similarity.cosine_with_norms(
                    "q_vec", "c_vec", "q_nsq", "c_nsq"
                ),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= _EMB_DECONTAM_T)
    )
    # tie order (max cos, then smallest bench id) as ONE integer key:
    # rounded-cos micros scaled past the bench-id range, minus the id —
    # max_by/arg_max over a plain BIGINT is portable where struct
    # ordering is not
    order_key = (
        F.round(F.col("cos_sim") * 1_000_000).cast("long") * 100_000
        - F.col("query_id")
    )
    return sims.groupBy("doc_id").agg(
        F.max_by("query_id", order_key).alias("closest_bench"),
        F.max("cos_sim").alias("max_cos"),
    )


def _emb_decontam_sql() -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {_EMB_DECONTAM_NBENCH}),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.qv', 'c.embedding')} AS cos_sim
  FROM embeddings c, q
  WHERE c.vec_id >= {_EMB_DECONTAM_NBENCH}
)
SELECT neighbor_id AS doc_id,
       ARG_MAX(query_id, CAST(ROUND(cos_sim * 1000000) AS BIGINT)
                         * 100000 - query_id) AS closest_bench,
       MAX(cos_sim) AS max_cos
FROM pairs
WHERE cos_sim >= {_EMB_DECONTAM_T}
GROUP BY neighbor_id
"""


_BPE_MERGES = 12


def text_longest_repeats(spark: SparkSession, sf: str) -> DataFrame:
    """Top-10 LONGEST repeated token sequences in the corpus via a
    distributed suffix ordering (suffixes.longest_repeated_sequences):
    prefix doubling from a 16-token base — each rank pass is a
    distinct + range sort + join-back carrying two longs per position,
    never the naive sort's whole-remaining-suffix shuffle — then
    adjacent-pair LCPs by direct token-slice comparison (capped 64
    tokens). The unbounded-length complement of ``dedup_passages``'
    fixed 8-grams: Lee et al. 2022's exact-substring question 'what
    are the longest copied spans, and where'. The oracle is an
    INDEPENDENT algorithm — DuckDB materializes every capped suffix
    STRING, sorts them directly, and recomputes adjacent LCPs with
    list ops — so the doubling construction's order and the slice LCP
    fold are both differentially checked (normalized tokens are
    alnum-only, which makes space-joined string order provably equal
    to token-sequence order)."""
    from icnarc_to_philips_linkage_spark.operators.suffixes import (
        longest_repeated_sequences,
    )

    return longest_repeated_sequences(
        spread(load(spark, sf, "documents"), "doc_id"), top_k=10
    )


TEXT_LONGEST_REPEATS_SQL = r"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
           '\s+', ' ', 'g')) AS t
  FROM documents),
toks AS (SELECT doc_id, string_split(t, ' ') AS tk FROM norm WHERE t <> ''),
suf AS (
  SELECT doc_id, off, tk[off:off+63] AS s,
         array_to_string(tk[off:off+63], ' ') AS skey
  FROM (SELECT doc_id, tk,
               unnest(generate_series(1, len(tk))) AS off
        FROM toks)),
ord AS (
  SELECT doc_id, off, s,
         row_number() OVER (ORDER BY skey, doc_id, off) AS idx
  FROM suf),
adj AS (
  SELECT a.doc_id AS doc_a, a.off AS off_a,
         b.doc_id AS doc_b, b.off AS off_b, a.s AS sa, b.s AS sb
  FROM ord a JOIN ord b ON b.idx = a.idx + 1),
sc AS (
  SELECT doc_a, off_a, doc_b, off_b,
         CAST(coalesce(
           -- list_position yields 0 (not NULL) when no element
           -- matches: nullif routes the all-equal case to the cap
           nullif(list_position(
             list_transform(generate_series(1, least(len(sa), len(sb))),
                            j -> sa[j] = sb[j]),
             false), 0) - 1,
           least(len(sa), len(sb))) AS INT) AS lcp_tokens,
         sa
  FROM adj)
SELECT doc_a, CAST(off_a AS INT) AS off_a,
       doc_b, CAST(off_b AS INT) AS off_b, lcp_tokens,
       CASE WHEN lcp_tokens > 0
            THEN array_to_string(sa[1:lcp_tokens], ' ')
            ELSE '' END AS excerpt
FROM sc ORDER BY lcp_tokens DESC, doc_a, off_a LIMIT 10
"""


def text_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    """Full BPE training (text.bpe_train): 12 greedy merges over the
    vocabulary-bounded symbol table. The oracle replays the SAME
    data-dependent loop as 12 unrolled CTEs — per step, a pair-count
    aggregation, the deterministic argmax, and the merge applied with
    a list_reduce fold identical to the engine's higher-order
    aggregate — so even the greedy training trajectory is
    differentially checked."""
    # NOT spread(): bpe_train's merge loop re-executes its word-table
    # lineage per merge, so a pre-shingle exchange is paid n_merges
    # times (measured 2.2 -> 2.8 s at sf0.1) — the loop persists its
    # own bounded symbol table instead.
    rows = _bpe_merge_rows(spark, sf)
    return spark.createDataFrame(
        rows, "step int, left string, right string, merged string, pair_n long"
    )


@trained("documents")
def _bpe_merge_rows(spark: SparkSession, sf: str) -> list:
    """Trained merge table for the registered BPE queries. Training is
    deterministic and three queries consume it, so they share one
    training run."""
    return [
        tuple(r)
        for r in text.bpe_train(
            load(spark, sf, "documents"), n_merges=_BPE_MERGES
        ).collect()
    ]


def text_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-scale application of the TRAINED merge list
    (text.bpe_encode): the 12 merges text_bpe_train learns fold over
    the distinct-word vocabulary, then one broadcast join tokenizes
    every document. The oracle replays training (the unrolled
    text_bpe_train chain) AND the encode fold per vocabulary word,
    then reassembles each document's token stream."""
    merges = [(left, right) for _, left, right, _, _ in _bpe_merge_rows(spark, sf)]
    return text.bpe_encode(
        spread(load(spark, sf, "documents"), "doc_id"), merges
    )


def _bpe_encode_sql() -> str:
    # reuse the full unrolled training chain verbatim (v0..vK, b1..bK),
    # then fold the SAME b_i merges over the per-word symbol table;
    # the training chain's final UNION-ALL SELECT starts at column 0,
    # CTE-internal SELECTs are indented, so the split is unambiguous
    train_ctes = _bpe_train_sql().split("\nSELECT ", 1)[0]
    parts = [train_ctes]
    parts.append(""",
e0 AS MATERIALIZED (SELECT w, string_split(w, '') AS syms FROM words)""")
    for i in range(1, _BPE_MERGES + 1):
        parts.append(f""",
e{i} AS MATERIALIZED (
  SELECT w,
         list_reduce(list_transform(syms, x -> [x]),
           (acc, s) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.l
                             AND s[1] = b.r
                        THEN acc[1:len(acc)-1] || [b.l || b.r]
                        ELSE acc || s END) AS syms
  FROM e{i - 1} CROSS JOIN b{i} b
)""")
    parts.append(f""",
toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
wp AS (
  SELECT doc_id, i AS pos, t[i] AS w
  FROM toks, unnest(generate_series(1, len(t))) AS u(i)
  WHERE t[i] <> ''
),
enc AS (
  SELECT wp.doc_id, wp.pos, e.syms
  FROM wp JOIN e{_BPE_MERGES} e USING (w)
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_words,
         SUM(len(syms)) AS n_tokens,
         string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos)
           AS tokens_str
  FROM enc GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_words, 0) AS n_words,
       CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       COALESCE(p.tokens_str, '') AS tokens_str
FROM documents d LEFT JOIN per_doc p USING (doc_id)""")
    return "".join(parts)


def _bpe_train_sql() -> str:
    head = f"""
WITH words AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest({_TOKS}) AS w FROM documents) WHERE w <> ''
  GROUP BY w
),
v0 AS MATERIALIZED (
  SELECT freq, string_split(w, '') AS syms FROM words
)"""
    parts = [head]
    for i in range(1, _BPE_MERGES + 1):
        prev = f"v{i - 1}"
        parts.append(f""",
p{i} AS MATERIALIZED (
  SELECT pr[1] AS l, pr[2] AS r, SUM(freq) AS n FROM (
    SELECT freq, unnest(list_zip(syms[1:len(syms)-1],
                                 syms[2:len(syms)])) AS pr
    FROM {prev} WHERE len(syms) >= 2)
  GROUP BY 1, 2
),
b{i} AS (SELECT l, r, n FROM p{i} ORDER BY n DESC, l, r LIMIT 1),
v{i} AS MATERIALIZED (
  SELECT freq,
         list_reduce(list_transform(syms, x -> [x]),
           (acc, s) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.l
                             AND s[1] = b.r
                        THEN acc[1:len(acc)-1] || [b.l || b.r]
                        ELSE acc || s END) AS syms
  FROM {prev} CROSS JOIN b{i} b
)""")
    steps = "\nUNION ALL\n".join(
        f'SELECT {i} AS step, l AS "left", r AS "right", '
        f"l || r AS merged, CAST(n AS BIGINT) AS pair_n FROM b{i}"
        for i in range(1, _BPE_MERGES + 1)
    )
    return "".join(parts) + "\n" + steps


def decontam_report(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: training docs (doc_id % 31 != 0)
    sharing any 13-gram with the benchmark split (doc_id % 31 == 0) —
    broadcast gram semi-join, training side never shuffles pre-join."""
    from icnarc_to_philips_linkage_spark.operators import decontam

    d = load(spark, sf, "documents")
    bench = d.filter((F.col("doc_id") % DECONTAM_BENCH_MOD) == 0)
    train = d.filter((F.col("doc_id") % DECONTAM_BENCH_MOD) != 0)
    return decontam.contamination_report(train, bench, n=DECONTAM_N)


def _decontam_sql() -> str:
    n, mod = DECONTAM_N, DECONTAM_BENCH_MOD
    terms = ", ".join(f"t[i+{j}]" for j in range(n))
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(t) < {n} THEN [array_to_string(t, ' ')]
           ELSE list_transform(generate_series(1, len(t) - {n - 1}),
                               i -> concat_ws(' ', {terms}))
      END) AS g
    FROM toks)
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % {mod} = 0),
train AS (SELECT doc_id, g FROM grams WHERE doc_id % {mod} <> 0)
SELECT t.doc_id, COUNT(*) AS n_shared_grams
FROM train t JOIN bench b USING (g)
GROUP BY t.doc_id
"""


def pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub end-to-end: deterministic synthetic PII (an email, a
    phone, a long id derived from doc_id) is appended to each document,
    then redacted by the native regexp chain; the query returns the
    per-kind counts and an md5 of the scrubbed text so the oracle
    verifies the redacted payload exactly."""
    from icnarc_to_philips_linkage_spark.operators import pii

    d = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact doc"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit("-1234 ref "),
            (F.col("doc_id") + 10_000_000).cast("string"),
        ).alias("text"),
    )
    return pii.scrub_pii(d).select(
        "doc_id",
        "n_email",
        "n_phone",
        "n_long_id",
        F.md5("text").alias("scrubbed_hash"),
    )


def _pii_sql() -> str:
    from icnarc_to_philips_linkage_spark.operators.pii import PII_PATTERNS

    cur = (
        "text || ' contact doc' || CAST(doc_id AS VARCHAR) || "
        "'@example.com tel 555-' || "
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || "
        "'-1234 ref ' || CAST(doc_id + 10000000 AS VARCHAR)"
    )
    counts = []
    for kind, pat in PII_PATTERNS:
        counts.append(
            f"len(regexp_extract_all({cur}, '{pat}')) AS n_{kind}"
        )
        cur = f"regexp_replace({cur}, '{pat}', '[{kind.upper()}]', 'g')"
    return f"""
SELECT doc_id, {', '.join(counts)}, md5({cur}) AS scrubbed_hash
FROM documents
"""


def eval_pii_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Scrubber evaluation against planted ground truth: emails planted
    into every 7th document, phones into every 11th (the rest stay
    clean), then the production regexp chain runs and per-kind
    detection confusions come out — the planted-truth twin of
    `pii_scrub`'s everything-planted redaction check. Detection is
    doc-level (n_<kind> > 0); precision/recall are exact ratios."""
    from icnarc_to_philips_linkage_spark.operators import pii

    pe = F.col("doc_id") % 7 == 0
    pp = F.col("doc_id") % 11 == 0
    d = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                pe,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@mail.example"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                pp,
                F.concat(
                    F.lit(" call 555-010-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
        pe.alias("__pe"),
        pp.alias("__pp"),
    )
    s = pii.scrub_pii(d)

    def _row(kind: str, truth: F.Column, hit: F.Column) -> DataFrame:
        tp = F.sum((truth & hit).cast("long")).alias("tp")
        fp = F.sum(((~truth) & hit).cast("long")).alias("fp")
        fn = F.sum((truth & ~hit).cast("long")).alias("fn")
        out = s.agg(
            F.sum(truth.cast("long")).alias("n_planted"), tp, fp, fn
        )
        return out.select(
            F.lit(kind).alias("kind"),
            "n_planted", "tp", "fp", "fn",
            F.round(
                F.when(
                    F.col("tp") + F.col("fp") > 0,
                    F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
                ),
                6,
            ).alias("precision"),
            F.round(
                F.when(
                    F.col("tp") + F.col("fn") > 0,
                    F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
                ),
                6,
            ).alias("recall"),
        )

    email = _row("email", F.col("__pe"), F.col("n_email") > 0)
    phone = _row("phone", F.col("__pp"), F.col("n_phone") > 0)
    return email.unionByName(phone)


def _pii_recall_sql() -> str:
    from icnarc_to_philips_linkage_spark.operators.pii import PII_PATTERNS

    planted = (
        "text || CASE WHEN doc_id % 7 = 0 THEN"
        " ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example'"
        " ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN"
        " ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " ELSE '' END"
    )
    cur = planted
    counts = []
    for kind, pat in PII_PATTERNS:
        counts.append(
            f"len(regexp_extract_all({cur}, '{pat}')) AS n_{kind}"
        )
        cur = f"regexp_replace({cur}, '{pat}', '[{kind.upper()}]', 'g')"
    conf = """
  SELECT '{kind}' AS kind,
         CAST(sum(CASE WHEN {t} THEN 1 ELSE 0 END) AS BIGINT) AS n_planted,
         CAST(sum(CASE WHEN {t} AND {h} THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN NOT {t} AND {h} THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN {t} AND NOT {h} THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         ROUND(CASE WHEN sum(CASE WHEN {t} AND {h} THEN 1 ELSE 0 END)
                         + sum(CASE WHEN NOT {t} AND {h} THEN 1 ELSE 0 END) > 0
           THEN CAST(sum(CASE WHEN {t} AND {h} THEN 1 ELSE 0 END) AS DOUBLE)
                / (sum(CASE WHEN {t} AND {h} THEN 1 ELSE 0 END)
                   + sum(CASE WHEN NOT {t} AND {h} THEN 1 ELSE 0 END)) END, 6)
           AS precision,
         ROUND(CASE WHEN sum(CASE WHEN {t} AND {h} THEN 1 ELSE 0 END)
                         + sum(CASE WHEN {t} AND NOT {h} THEN 1 ELSE 0 END) > 0
           THEN CAST(sum(CASE WHEN {t} AND {h} THEN 1 ELSE 0 END) AS DOUBLE)
                / (sum(CASE WHEN {t} AND {h} THEN 1 ELSE 0 END)
                   + sum(CASE WHEN {t} AND NOT {h} THEN 1 ELSE 0 END)) END, 6)
           AS recall
  FROM scrubbed"""
    return f"""
WITH scrubbed AS (
  SELECT doc_id, doc_id % 7 = 0 AS pe, doc_id % 11 = 0 AS pp,
         {', '.join(counts)}
  FROM documents
)
{conf.format(kind='email', t='pe', h='n_email > 0')}
UNION ALL
{conf.format(kind='phone', t='pp', h='n_phone > 0')}
"""


def scd_merge_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Type-1 MERGE emulation (scd.merge_upsert) over a deterministic
    CDC batch against documents: every 7th doc updated (text + ' v2'),
    every 13th deleted, an every-11th block re-keyed +1e6 as inserts —
    all three MERGE arms exercised with disjoint update/delete keys.
    Output is (doc_id, content_hash) of the merged relation."""
    from icnarc_to_philips_linkage_spark.operators import scd

    t = load(spark, sf, "documents").select("doc_id", "text")
    upd = t.filter(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 13 != 0)
    ).select(
        "doc_id",
        F.concat("text", F.lit(" v2")).alias("text"),
        F.lit("U").alias("op"),
    )
    ins = t.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        F.lit("U").alias("op"),
    )
    dele = t.filter(F.col("doc_id") % 13 == 0).select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"),
    )
    src = upd.unionByName(ins).unionByName(dele)
    merged = scd.merge_upsert(t, src, ["doc_id"], op_col="op")
    return merged.select("doc_id", F.md5("text").alias("content_hash"))


def _merge_upsert_sql() -> str:
    return """
WITH t AS (SELECT doc_id, text FROM documents),
src AS (
  SELECT doc_id, text || ' v2' AS text, 'U' AS op
  FROM t WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 1000000, text, 'U' FROM t WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id, NULL, 'D' FROM t WHERE doc_id % 13 = 0
),
up AS (SELECT doc_id, text FROM src WHERE op <> 'D')
SELECT doc_id, md5(text) AS content_hash FROM (
  SELECT * FROM t
  WHERE doc_id NOT IN (SELECT doc_id FROM src)
  UNION ALL
  SELECT * FROM up)
"""


def reconcile_sources(spark: SparkSession, sf: str) -> DataFrame:
    """Table reconciliation (migration cutover check): documents vs a
    deterministically perturbed copy of itself — every 13th key
    dropped (only_left), every 7th text modified (value_mismatch), a
    shifted-id block appended (only_right), the rest equal — so all
    four diff statuses are exercised with nonzero counts."""
    from icnarc_to_philips_linkage_spark.operators import reconcile

    d = load(spark, sf, "documents").select("doc_id", "text")
    changed = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [MOD]"))
    ).otherwise(F.col("text"))
    right = (
        d.filter(F.col("doc_id") % 13 != 0)
        .select("doc_id", changed.alias("text"))
        .unionByName(
            d.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
    )
    return reconcile.diff_summary(d, right, ["doc_id"])


RECONCILE_SQL = """
WITH l AS (
  SELECT doc_id,
         md5(CASE WHEN text IS NULL THEN 'N'
                  ELSE CONCAT(LENGTH(CAST(text AS VARCHAR)), ':', CAST(text AS VARCHAR)) END) AS dl
  FROM documents
),
rsrc AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [MOD]' ELSE text END AS text
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 11 = 0
),
r AS (
  SELECT doc_id,
         md5(CASE WHEN text IS NULL THEN 'N'
                  ELSE CONCAT(LENGTH(CAST(text AS VARCHAR)), ':', CAST(text AS VARCHAR)) END) AS dr
  FROM rsrc
),
d AS (
  SELECT CASE WHEN r.doc_id IS NULL THEN 'only_left'
              WHEN l.doc_id IS NULL THEN 'only_right'
              WHEN dl <> dr THEN 'value_mismatch'
              ELSE 'equal' END AS status
  FROM l FULL OUTER JOIN r ON l.doc_id = r.doc_id
)
SELECT COUNT(*) FILTER (status = 'equal') AS n_equal,
       COUNT(*) FILTER (status = 'value_mismatch') AS n_value_mismatch,
       COUNT(*) FILTER (status = 'only_left') AS n_only_left,
       COUNT(*) FILTER (status = 'only_right') AS n_only_right
FROM d
"""


def quality_gate(spark: SparkSession, sf: str) -> DataFrame:
    """Declarative expectations over documents in one aggregate:
    not-null text, token-count range, source-form regex, language
    membership — the nightly quality-gate report row."""
    from icnarc_to_philips_linkage_spark.operators import checks
    from icnarc_to_philips_linkage_spark.operators.text import token_count

    d = load(spark, sf, "documents").withColumn(
        "n_toks", token_count("text")
    )
    return checks.check_report(
        d,
        [
            checks.not_null("text"),
            checks.in_range("n_toks", 5, 80),
            checks.matches("source", r"src[0-9]+"),
            checks.not_null("doc_id"),
        ],
    )


def quality_gate_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source expectation report (checks.check_report_grouped): the
    same gate keyed by source, so a bad feed localizes instead of
    drowning in corpus-wide totals."""
    from icnarc_to_philips_linkage_spark.operators import checks
    from icnarc_to_philips_linkage_spark.operators.text import token_count

    d = load(spark, sf, "documents").withColumn(
        "n_toks", token_count("text")
    )
    return checks.check_report_grouped(
        d,
        "source",
        [
            checks.not_null("text"),
            checks.in_range("n_toks", 5, 80),
            checks.not_null("doc_id"),
        ],
    )


QUALITY_GATE_BY_SOURCE_SQL = f"""
WITH t AS (
  SELECT *, len({_TOKS}) AS n_toks FROM documents
)
SELECT source, COUNT(*) AS n_rows,
       COUNT(*) FILTER (text IS NULL) AS viol_text_not_null,
       COUNT(*) FILTER (NOT (n_toks IS NULL OR (n_toks >= 5 AND n_toks <= 80)))
         AS viol_n_toks_in_range,
       COUNT(*) FILTER (doc_id IS NULL) AS viol_doc_id_not_null
FROM t GROUP BY source
"""


QUALITY_GATE_SQL = f"""
WITH t AS (
  SELECT *, len({_TOKS}) AS n_toks FROM documents
)
SELECT COUNT(*) AS n_rows,
       COUNT(*) FILTER (text IS NULL) AS viol_text_not_null,
       COUNT(*) FILTER (NOT (n_toks IS NULL OR (n_toks >= 5 AND n_toks <= 80)))
         AS viol_n_toks_in_range,
       COUNT(*) FILTER (NOT (source IS NULL OR regexp_full_match(source, 'src[0-9]+')))
         AS viol_source_matches,
       COUNT(*) FILTER (doc_id IS NULL) AS viol_doc_id_not_null
FROM t
"""


PACK_CONTEXT_LEN = 512


def pack_context_windows(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style sequence packing: documents laid end-to-end in doc_id
    order, token stream cut every 512 tokens; one row per (document,
    window) overlap with the document's slice bounds.
    ``repartitionByRange`` makes partition-local order == global order,
    so the distributed prefix sum yields the same layout at ANY
    partition count (the unit test pins this)."""
    from icnarc_to_philips_linkage_spark.operators import packing
    from icnarc_to_philips_linkage_spark.operators.text import token_count

    d = (
        load(spark, sf, "documents")
        .select("doc_id", token_count("text").alias("n_tokens"))
        .repartitionByRange(8, "doc_id")
    )
    return packing.pack_sequences(
        d, context_len=PACK_CONTEXT_LEN
    )


PACK_SQL = f"""
WITH t AS (
  SELECT doc_id, len({_TOKS}) AS n FROM documents
  WHERE len({_TOKS}) > 0
),
s AS (
  SELECT doc_id, n, SUM(n) OVER (ORDER BY doc_id) AS e FROM t
),
spans AS (SELECT doc_id, e - n AS ds, e AS de FROM s)
SELECT w AS window_id, doc_id, ds AS doc_start, de AS doc_end,
       GREATEST(ds, w * {PACK_CONTEXT_LEN}) AS win_start,
       LEAST(de, (w + 1) * {PACK_CONTEXT_LEN}) AS win_end
FROM spans,
     unnest(generate_series(CAST(FLOOR(ds / {PACK_CONTEXT_LEN}) AS BIGINT),
                            CAST(FLOOR((de - 1) / {PACK_CONTEXT_LEN}) AS BIGINT))) AS u(w)
"""


def pack_bins_ffd(spark: SparkSession, sf: str) -> DataFrame:
    """First-fit-decreasing whole-document bin packing into 512-token
    bins, hash-grouped for distribution, verified by a hash-matchable
    invariant row: the greedy layout itself has no DuckDB twin (the
    xxhash64 grouping is engine-specific), so the registered result is
    ``packing.ffd_invariant_report`` — exact n_docs/total_tokens/
    ceil-bound recomputed independently by the oracle from
    ``documents``, plus first-fit invariants pinned to TRUE. The full
    per-doc layout stays pinned by tests/test_llm_ops.py
    (determinism, disjointness, fill bounds)."""
    from icnarc_to_philips_linkage_spark.operators import packing
    from icnarc_to_philips_linkage_spark.operators.text import token_count

    d = load(spark, sf, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    packed = packing.pack_bins_ffd(
        d, context_len=PACK_CONTEXT_LEN, num_groups=8
    )
    return packing.ffd_invariant_report(packed, PACK_CONTEXT_LEN)


FFD_INVARIANT_SQL = f"""
WITH t AS (
  SELECT doc_id, len({_TOKS}) AS n FROM documents
  WHERE len({_TOKS}) > 0 AND len({_TOKS}) <= {PACK_CONTEXT_LEN}
)
SELECT COUNT(*) AS n_docs,
       SUM(n) AS total_tokens,
       CAST(CEIL(SUM(n) / {PACK_CONTEXT_LEN}.0) AS BIGINT) AS min_bins,
       TRUE AS bins_lb_ok,
       TRUE AS placed_once_ok,
       TRUE AS no_overflow_ok,
       TRUE AS offsets_ok,
       TRUE AS half_empty_ok
FROM t
"""


# ------------------------------------------------- drift / passage dedup

_PSI_LO, _PSI_HI, _PSI_BINS, _PSI_EPS = 0.0, 600.0, 10, 0.5


def drift_psi(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution drift between the existing corpus (src0-9) and the
    incoming batch (src10+) over document length: per-bucket PSI
    contributions + scalar PSI / binned-KS. Fixed caller-declared bucket
    grid (drift monitoring must reuse the same grid across runs). Both
    slices live in one table, so this uses the single-scan tagged
    form."""
    from icnarc_to_philips_linkage_spark.operators import drift

    d = load(spark, sf, "documents")
    batch_no = F.substring("source", 4, 10).cast("int")
    return drift.psi_report_tagged(
        d,
        batch_no < 10,
        "n_chars",
        lo=_PSI_LO,
        hi=_PSI_HI,
        bins=_PSI_BINS,
        eps=_PSI_EPS,
    )


def _psi_sql() -> str:
    width = (_PSI_HI - _PSI_LO) / _PSI_BINS
    return f"""
WITH tagged AS (
  SELECT LEAST({_PSI_BINS - 1}, GREATEST(0,
           CAST(FLOOR((CAST(n_chars AS DOUBLE) - {_PSI_LO}) / {width}) AS BIGINT)
         )) AS bucket,
         CASE WHEN TRY_CAST(SUBSTR(source, 4) AS INT) IS NULL THEN NULL
              WHEN TRY_CAST(SUBSTR(source, 4) AS INT) < 10 THEN 1
              ELSE 0 END AS is_ref
  FROM documents
),
counts AS (
  SELECT bucket,
         COUNT(*) FILTER (is_ref = 1) AS n_ref,
         COUNT(*) FILTER (is_ref = 0) AS n_cur
  FROM tagged WHERE bucket IS NOT NULL AND is_ref IS NOT NULL GROUP BY 1
),
probs AS (
  SELECT bucket, n_ref, n_cur,
         (n_ref + {_PSI_EPS}) / (SUM(n_ref) OVER () + {_PSI_EPS * _PSI_BINS}) AS p_ref,
         (n_cur + {_PSI_EPS}) / (SUM(n_cur) OVER () + {_PSI_EPS * _PSI_BINS}) AS p_cur
  FROM counts
),
c2 AS (
  SELECT *,
         (p_cur - p_ref) * ln(p_cur / p_ref) AS psi_contrib,
         SUM(p_ref) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
         SUM(p_cur) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
  FROM probs
)
SELECT bucket, n_ref, n_cur,
       ROUND(p_ref, 6) AS p_ref, ROUND(p_cur, 6) AS p_cur,
       ROUND(psi_contrib, 6) AS psi_contrib,
       ROUND(SUM(psi_contrib) OVER (), 6) AS psi_total,
       ROUND(MAX(ABS(cr - cc)) OVER (), 6) AS ks_stat
FROM c2
"""


def drift_psi_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language drift: the stratified form — a stable aggregate PSI
    can hide a badly drifted stratum, so production monitoring slices
    first. One shuffle of |langs| x bins cells."""
    from icnarc_to_philips_linkage_spark.operators import drift

    d = load(spark, sf, "documents")
    batch_no = F.substring("source", 4, 10).cast("int")
    return drift.psi_report_strata(
        d,
        "lang",
        batch_no < 10,
        "n_chars",
        lo=_PSI_LO,
        hi=_PSI_HI,
        bins=_PSI_BINS,
        eps=_PSI_EPS,
    )


def _psi_strata_sql() -> str:
    width = (_PSI_HI - _PSI_LO) / _PSI_BINS
    return f"""
WITH tagged AS (
  SELECT lang AS stratum,
         LEAST({_PSI_BINS - 1}, GREATEST(0,
           CAST(FLOOR((CAST(n_chars AS DOUBLE) - {_PSI_LO}) / {width}) AS BIGINT)
         )) AS bucket,
         CASE WHEN TRY_CAST(SUBSTR(source, 4) AS INT) IS NULL THEN NULL
              WHEN TRY_CAST(SUBSTR(source, 4) AS INT) < 10 THEN 1
              ELSE 0 END AS is_ref
  FROM documents
),
counts AS (
  SELECT stratum, bucket,
         COUNT(*) FILTER (is_ref = 1) AS n_ref,
         COUNT(*) FILTER (is_ref = 0) AS n_cur
  FROM tagged WHERE bucket IS NOT NULL AND is_ref IS NOT NULL GROUP BY 1, 2
),
probs AS (
  SELECT stratum, bucket, n_ref, n_cur,
         (n_ref + {_PSI_EPS}) / (SUM(n_ref) OVER (PARTITION BY stratum) + {_PSI_EPS * _PSI_BINS}) AS p_ref,
         (n_cur + {_PSI_EPS}) / (SUM(n_cur) OVER (PARTITION BY stratum) + {_PSI_EPS * _PSI_BINS}) AS p_cur
  FROM counts
),
c2 AS (
  SELECT *,
         (p_cur - p_ref) * ln(p_cur / p_ref) AS psi_contrib,
         SUM(p_ref) OVER (PARTITION BY stratum ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
         SUM(p_cur) OVER (PARTITION BY stratum ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
  FROM probs
)
SELECT stratum, bucket, n_ref, n_cur,
       ROUND(p_ref, 6) AS p_ref, ROUND(p_cur, 6) AS p_cur,
       ROUND(psi_contrib, 6) AS psi_contrib,
       ROUND(SUM(psi_contrib) OVER (PARTITION BY stratum), 6) AS psi_total,
       ROUND(MAX(ABS(cr - cc)) OVER (PARTITION BY stratum), 6) AS ks_stat
FROM c2
"""


def dedup_normalized(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup on canonicalized text (lower / strip punctuation /
    collapse whitespace) — case and formatting variants merge."""
    return dedup_scale.normalized_exact_dedup(load(spark, sf, "documents"))


DEDUP_NORMALIZED_SQL = r"""
SELECT md5(trim(regexp_replace(
         regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
         '\s+', ' ', 'g'))) AS norm_hash,
       MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""

_PASSAGE_N, _PASSAGE_MIN_DOCS = 8, 2


def dedup_passages(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document duplicated-passage fraction (Lee et al. 2022
    exact-substring signal at word-8-gram granularity)."""
    return dedup_scale.duplicated_passage_report(
        spread(load(spark, sf, "documents"), "doc_id"),
        n=_PASSAGE_N,
        min_docs=_PASSAGE_MIN_DOCS,
    )


def _passages_sql() -> str:
    n = _PASSAGE_N
    gram_list = (
        f"list_distinct(list_transform(generate_series(1, len(t) - {n - 1}), "
        f"i -> array_to_string(t[i:i+{n - 1}], ' ')))"
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
g AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) < {n} THEN [array_to_string(t, ' ')]
         ELSE {gram_list} END) AS shingle
  FROM toks
),
cross_counts AS (SELECT shingle, COUNT(*) AS n_docs FROM g GROUP BY 1),
dup AS (SELECT shingle FROM cross_counts WHERE n_docs >= {_PASSAGE_MIN_DOCS}),
per_doc_dup AS (
  SELECT g.doc_id, COUNT(*) AS n_dup_grams
  FROM g JOIN dup USING (shingle) GROUP BY 1
),
totals AS (
  SELECT doc_id,
         CAST(CASE WHEN len(t) < {n} THEN 1 ELSE len({gram_list}) END AS BIGINT) AS n_grams
  FROM toks
)
SELECT t.doc_id, t.n_grams,
       COALESCE(d.n_dup_grams, 0) AS n_dup_grams,
       ROUND(COALESCE(d.n_dup_grams, 0) / GREATEST(t.n_grams, 1), 6) AS dup_fraction
FROM totals t LEFT JOIN per_doc_dup d USING (doc_id)
"""


def dedup_span_removal(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring span REMOVAL (Lee et al. 2022) — the action half
    of ``dedup_passages``' detection: positional word-8-gram
    occurrences duplicated anywhere in the corpus are cut from every
    document except the corpus-minimal (doc_id, pos) keeper; survivors
    reassemble in order. Full per-doc output (n_tokens, n_removed,
    text_dedup) so the oracle hash-checks every reassembled string."""
    return dedup_scale.remove_duplicate_spans(
        spread(load(spark, sf, "documents"), "doc_id"), n=_PASSAGE_N
    )


def _span_removal_sql() -> str:
    n = _PASSAGE_N
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
g AS (
  SELECT doc_id, i AS pos, array_to_string(t[i:i+{n - 1}], ' ') AS gram
  FROM toks, unnest(generate_series(
    1, CASE WHEN len(t) < {n} THEN 0 ELSE len(t) - {n - 1} END)) AS u(i)
),
keepers AS (
  SELECT gram, doc_id AS kd, pos AS kp FROM (
    SELECT gram, doc_id, pos,
           COUNT(*) OVER (PARTITION BY gram) AS c,
           ROW_NUMBER() OVER (PARTITION BY gram
                              ORDER BY doc_id, pos) AS rn
    FROM g) WHERE c >= 2 AND rn = 1
),
dups AS (
  SELECT g.doc_id, g.pos FROM g JOIN keepers k USING (gram)
  WHERE NOT (g.doc_id = k.kd AND g.pos = k.kp)
),
cov AS (
  SELECT DISTINCT doc_id, pos + j AS cp
  FROM dups, unnest(generate_series(0, {n - 1})) AS u(j)
),
tokpos AS (
  SELECT doc_id, i AS pos, t[i] AS tok
  FROM toks, unnest(generate_series(1, len(t))) AS u(i)
),
kept AS (
  SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
  WHERE NOT EXISTS (SELECT 1 FROM cov c
                    WHERE c.doc_id = tp.doc_id AND c.cp = tp.pos)
),
texts AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_dedup
  FROM kept GROUP BY 1
),
rm AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY 1)
SELECT t.doc_id, len(t.t) AS n_tokens,
       COALESCE(r.n_removed, 0) AS n_removed,
       COALESCE(x.text_dedup, '') AS text_dedup
FROM toks t LEFT JOIN rm r USING (doc_id) LEFT JOIN texts x USING (doc_id)
"""


_PARA_WINDOW = 20


def dedup_paragraphs_c4(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style paragraph-granularity exact dedup (Raffel et al. 2020
    three-sentence-span dedup, here on 20-token tumbling pseudo-
    paragraphs since the corpus text carries no layout boundaries):
    every normalized paragraph repeat — cross- or within-document —
    is cut except its corpus-minimal (doc_id, idx) keeper, and
    documents reassemble in order. Full per-doc output so the oracle
    hash-checks every reassembled string."""
    d = spread(load(spark, sf, "documents"), "doc_id")
    return dedup_scale.paragraph_dedup_exploded(
        dedup_scale.token_window_paragraphs(d, window=_PARA_WINDOW)
    )


def _para_c4_sql() -> str:
    w = _PARA_WINDOW
    return rf"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
paras AS (
  SELECT doc_id, k AS para_idx,
         array_to_string(t[((k-1)*{w}+1):(k*{w})], ' ') AS para
  FROM toks, unnest(generate_series(
    1, CAST((len(t) + {w - 1}) // {w} AS BIGINT))) AS u(k)
),
keyed AS (
  SELECT doc_id, para_idx, para,
         md5(trim(regexp_replace(regexp_replace(lower(para),
             '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS d
  FROM paras
),
flagged AS (
  SELECT doc_id, para_idx, para,
         ROW_NUMBER() OVER (PARTITION BY d
                            ORDER BY doc_id, para_idx) = 1 AS keep
  FROM keyed
)
SELECT doc_id, COUNT(*) AS n_paras,
       COUNT(*) FILTER (WHERE NOT keep) AS n_removed,
       COALESCE(string_agg(CASE WHEN keep THEN para END, ' '
                           ORDER BY para_idx), '') AS text_dedup
FROM flagged GROUP BY doc_id
"""


# ------------------------------------------------- lexical retrieval

_BM25_TERMS = ["spark", "vector", "stream"]
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 20


def text_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 keyword search: top-20 documents for a fixed query bag —
    the lexical-retrieval twin of the ANN queries. Only query-term
    postings shuffle; df/stats sides broadcast."""
    from icnarc_to_philips_linkage_spark.operators import retrieval

    return retrieval.bm25_search(
        load(spark, sf, "documents"),
        _BM25_TERMS,
        k1=_BM25_K1,
        b=_BM25_B,
        top_k=_BM25_TOPK,
    )


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b = _BM25_K1, _BM25_B
    # Arithmetic written with the same literals and operation order as
    # the Spark expression so both engines produce identical doubles
    # before the 6dp rounds.
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
posting AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM posting
  WHERE term IN ({terms}) GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
w AS (
  SELECT tf.doc_id,
         ROUND(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * ({k1} + 1.0))
               / (tf.tf + {k1} * ((1.0 - {b}) + {b} * dl.dl / s.avgdl)),
               6) AS w
  FROM tf JOIN dl USING (doc_id) JOIN dfreq d USING (term) CROSS JOIN stats s
)
SELECT doc_id, ROUND(SUM(w), 6) AS score, COUNT(*) AS n_hits
FROM w GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {_BM25_TOPK}
"""


_RRF_POOL, _RRF_K, _RRF_TOPK, _RRF_QVEC = 50, 60, 20, 0


def retrieval_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval (retrieval.rrf_fuse): BM25 lexical top-50 and
    dense cosine top-50 for one query vector, fused by reciprocal
    rank — the standard RAG hybrid-search combiner. Both rankers are
    parameter-bounded lists, so ranking windows and the fusion
    aggregate run over ≤100 rows regardless of corpus size; the heavy
    lifting stays in the two rankers' own scale-shaped plans."""
    from pyspark.sql import Window

    from icnarc_to_philips_linkage_spark.operators import (
        retrieval,
        similarity,
    )

    docs = load(spark, sf, "documents")
    emb = load(spark, sf, "embeddings")
    bm = retrieval.bm25_search(
        docs, _BM25_TERMS, k1=_BM25_K1, b=_BM25_B, top_k=_RRF_POOL
    )
    w_bm = bounded_global_window(
        "score", F.desc("score"), F.asc("doc_id")
    )
    bm_ranked = bm.select(
        "doc_id", F.row_number().over(w_bm).alias("rank")
    )
    cos = similarity.knn_brute_force(
        emb, emb.filter(F.col("vec_id") == _RRF_QVEC), k=_RRF_POOL
    )
    w_cos = bounded_global_window(
        "cos_sim", F.desc("cos_sim"), F.asc("neighbor_id")
    )
    cos_ranked = cos.select(
        F.col("neighbor_id").alias("doc_id"),
        F.row_number().over(w_cos).alias("rank"),
    )
    return retrieval.rrf_fuse(
        [bm_ranked, cos_ranked], k=_RRF_K, top_k=_RRF_TOPK
    )


def _rrf_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b = _BM25_K1, _BM25_B
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
posting AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM posting
  WHERE term IN ({terms}) GROUP BY 1, 2
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
w AS (
  SELECT tf.doc_id,
         ROUND(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
               * (tf.tf * ({k1} + 1.0))
               / (tf.tf + {k1} * ((1.0 - {b}) + {b} * dl.dl / s.avgdl)),
               6) AS w
  FROM tf JOIN dl USING (doc_id) JOIN dfreq d USING (term) CROSS JOIN stats s
),
bm AS (
  SELECT doc_id, ROUND(SUM(w), 6) AS score
  FROM w GROUP BY doc_id
  ORDER BY score DESC, doc_id LIMIT {_RRF_POOL}
),
bm_ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
  FROM bm
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_RRF_QVEC}),
cos AS (
  SELECT c.vec_id AS doc_id, {_cos_sql('q.qv', 'c.embedding')} AS cos_sim
  FROM embeddings c, q
  WHERE c.vec_id != {_RRF_QVEC}
  ORDER BY cos_sim DESC, doc_id LIMIT {_RRF_POOL}
),
cos_ranked AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS rank
  FROM cos
),
terms_t AS (
  SELECT doc_id,
         CAST(ROUND(1.0 / ({_RRF_K} + rank), 9) AS DECIMAL(12,9)) AS term
  FROM bm_ranked
  UNION ALL
  SELECT doc_id,
         CAST(ROUND(1.0 / ({_RRF_K} + rank), 9) AS DECIMAL(12,9)) AS term
  FROM cos_ranked
)
SELECT doc_id, CAST(SUM(term) AS DOUBLE) AS rrf_score,
       COUNT(*) AS n_rankers
FROM terms_t GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_TOPK}
"""


_CONTAIN_N, _CONTAIN_T = 8, 0.5


def dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Shingle-containment pairs (asymmetric partial-copy detection):
    |S(a)∩S(b)|/|S(a)| over 8-gram shingle sets, candidates = pairs
    sharing ≥1 gram (bucketed self-join, never all-pairs)."""
    from icnarc_to_philips_linkage_spark.operators import retrieval

    return retrieval.containment_pairs(
        spread(load(spark, sf, "documents"), "doc_id"),
        n=_CONTAIN_N,
        threshold=_CONTAIN_T,
    )


def _containment_sql() -> str:
    n = _CONTAIN_N
    gram_list = (
        f"list_distinct(list_transform(generate_series(1, len(t) - {n - 1}), "
        f"i -> array_to_string(t[i:i+{n - 1}], ' ')))"
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
g AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) < {n} THEN [array_to_string(t, ' ')]
         ELSE {gram_list} END) AS shingle
  FROM toks
),
sizes AS (
  SELECT doc_id,
         CASE WHEN len(t) < {n} THEN 1 ELSE len({gram_list}) END AS n_grams
  FROM toks
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM g a JOIN g b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       ROUND(n_common / sa.n_grams, 6) AS cont_a_in_b,
       ROUND(n_common / sb.n_grams, 6) AS cont_b_in_a
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE GREATEST(ROUND(n_common / sa.n_grams, 6),
               ROUND(n_common / sb.n_grams, 6)) >= {_CONTAIN_T}
"""


SEMDEDUP_T = 0.3


def dedup_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic dedup (similarity.semantic_dedup):
    deterministic hyperplane clusters, within-cluster cosine prune,
    min-id survivor per near-dup set. The clusterer's literal planes
    reproduce exactly in the oracle, so even this 'approximate' op is
    hash-checkable."""
    emb = load(spark, sf, "embeddings")
    return similarity.semantic_dedup(
        emb, threshold=SEMDEDUP_T, n_planes=N_PLANES, dim=DIM
    ).orderBy("vec_id")


def _semantic_dedup_sql() -> str:
    planes = [similarity._hyperplane(p, DIM) for p in range(N_PLANES)]

    def plane_lit(plane: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]"

    def dot_plane(v: str, plane: list[float]) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({v}[i] AS DOUBLE) * ({plane_lit(plane)})[i]))"
        )

    bucket = " + ".join(
        f"CAST({dot_plane('embedding', plane)} > 0 AS INT) * {1 << p}"
        for p, plane in enumerate(planes)
    )
    return f"""
WITH hashed AS (
  SELECT vec_id, embedding, {bucket} AS cluster FROM embeddings
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM hashed a JOIN hashed b USING (cluster)
  WHERE a.vec_id < b.vec_id
    AND {_cos_sql('a.embedding', 'b.embedding')} >= {SEMDEDUP_T}
)
SELECT h.vec_id, h.cluster, d.vec_id IS NULL AS kept
FROM hashed h LEFT JOIN dropped d USING (vec_id)
ORDER BY h.vec_id
"""


_LM_N = 3


def quality_ngram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style char-trigram LM quality scoring (text.ngram_lm_score):
    self-trained gram model (alphabet-bounded → broadcast), per-doc
    mean negative log2 gram probability = bits per gram."""
    return text.ngram_lm_score(
        spread(load(spark, sf, "documents"), "doc_id"), n=_LM_N
    ).orderBy("doc_id")


QUALITY_LM_SQL = rf"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
           '\s+', ' ', 'g')) AS t
  FROM documents),
grams AS (
  SELECT doc_id, unnest(
    CASE WHEN length(t) < {_LM_N} THEN []
         ELSE list_transform(generate_series(1, length(t) - {_LM_N - 1}),
                             i -> substr(t, i, {_LM_N})) END) AS gram
  FROM norm),
model AS (SELECT gram, COUNT(*) AS gram_n FROM grams GROUP BY 1),
tot AS (SELECT SUM(gram_n) AS total_n FROM model),
scored AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         ROUND(-AVG(log2(gram_n / total_n)), 6) AS bits_per_gram
  FROM grams JOIN model USING (gram) CROSS JOIN tot
  GROUP BY doc_id)
SELECT d.doc_id, COALESCE(s.n_grams, 0) AS n_grams, s.bits_per_gram
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY d.doc_id
"""


def sample_moore_lewis(spark: SparkSession, sf: str) -> DataFrame:
    """Moore–Lewis cross-entropy-difference selection scores
    (text.moore_lewis_scores): src0 is the in-domain target; every doc
    scored bits_in − bits_out under Laplace-smoothed char-trigram LMs
    (in-domain vs whole pool), both models from ONE gram pass."""
    docs = spread(load(spark, sf, "documents"), "doc_id")
    return text.moore_lewis_scores(
        docs, F.col("source") == "src0", n=_LM_N
    )


MOORE_LEWIS_SQL = rf"""
WITH norm AS (
  SELECT doc_id, source = 'src0' AS in_domain,
         trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
           '\s+', ' ', 'g')) AS t
  FROM documents),
grams AS (
  SELECT doc_id, in_domain, unnest(
    CASE WHEN length(t) < {_LM_N} THEN []
         ELSE list_transform(generate_series(1, length(t) - {_LM_N - 1}),
                             i -> substr(t, i, {_LM_N})) END) AS gram
  FROM norm),
model AS (
  SELECT gram, COUNT(*) AS all_n,
         SUM(CASE WHEN in_domain THEN 1 ELSE 0 END) AS in_n
  FROM grams GROUP BY 1),
tot AS (
  SELECT SUM(all_n) AS all_tot, SUM(in_n) AS in_tot, COUNT(*) AS v
  FROM model),
scored AS (
  SELECT doc_id, SUM(g.cnt) AS n_grams,
         -SUM(g.cnt * log2((in_n + 1.0) / (in_tot + 1.0 * v)))
           / SUM(g.cnt) AS bin,
         -SUM(g.cnt * log2((all_n + 1.0) / (all_tot + 1.0 * v)))
           / SUM(g.cnt) AS bout
  FROM (SELECT doc_id, gram, COUNT(*) AS cnt
        FROM grams GROUP BY 1, 2) g
  JOIN model USING (gram) CROSS JOIN tot
  GROUP BY doc_id)
SELECT n.doc_id, n.in_domain,
       CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
       ROUND(s.bin, 6) AS bits_in,
       ROUND(s.bout, 6) AS bits_out,
       ROUND(s.bin - s.bout, 6) AS ce_diff
FROM norm n LEFT JOIN scored s USING (doc_id)
"""


def quality_ccnet_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing per source
    (text.ccnet_perplexity_buckets): exact within-source tercile
    thresholds over the 6dp-quantized LM scores, ×1e6 integer mean."""
    return text.ccnet_perplexity_buckets(
        spread(load(spark, sf, "documents"), "doc_id"), n=_LM_N
    )


CCNET_BUCKETS_SQL = rf"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(
           regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
           '\s+', ' ', 'g')) AS t
  FROM documents),
grams AS (
  SELECT doc_id, unnest(
    CASE WHEN length(t) < {_LM_N} THEN []
         ELSE list_transform(generate_series(1, length(t) - {_LM_N - 1}),
                             i -> substr(t, i, {_LM_N})) END) AS gram
  FROM norm),
model AS (SELECT gram, COUNT(*) AS gram_n FROM grams GROUP BY 1),
tot AS (SELECT SUM(gram_n) AS total_n FROM model),
scored AS (
  SELECT doc_id,
         ROUND(-AVG(log2(gram_n / total_n)), 6) AS bits
  FROM grams JOIN model USING (gram) CROSS JOIN tot
  GROUP BY doc_id),
src AS (
  SELECT d.source, s.bits FROM scored s JOIN documents d USING (doc_id)
  WHERE s.bits IS NOT NULL),
th AS (
  SELECT source,
         ROUND(quantile_cont(bits, 1.0/3), 6) AS t1,
         ROUND(quantile_cont(bits, 2.0/3), 6) AS t2
  FROM src GROUP BY 1),
b AS (
  SELECT src.source,
         CASE WHEN bits <= t1 THEN 'head'
              WHEN bits <= t2 THEN 'middle'
              ELSE 'tail' END AS bucket,
         bits
  FROM src JOIN th USING (source))
SELECT source, bucket, COUNT(*) AS n_docs,
       ROUND(SUM(CAST(ROUND(bits * 1e6) AS HUGEINT)) / 1e6 / COUNT(*), 6)
         AS mean_bits
FROM b GROUP BY 1, 2
"""


def text_tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility / compression report per source: after
    applying the trained BPE merges corpus-wide (text.bpe_encode with
    text_bpe_train's memoized run), tokens-per-word and
    chars-per-token per source — the standard 'how well does the
    tokenizer fit each slice' deployment report. Integer sums, one
    doc-grain join to the source column."""
    d = spread(load(spark, sf, "documents"), "doc_id")
    merges = [(l, r) for _, l, r, _, _ in _bpe_merge_rows(spark, sf)]
    enc = text.bpe_encode(d, merges)
    return (
        enc.join(
            load(spark, sf, "documents").select(
                "doc_id", "source", "n_chars"
            ),
            "doc_id",
        )
        .groupBy("source")
        .agg(
            F.sum("n_words").alias("words"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("n_chars").alias("chars"),
            F.round(
                F.sum("n_tokens")
                / F.when(F.sum("n_words") > 0, F.sum("n_words")),
                6,
            ).alias("fertility"),
            F.round(
                F.sum("n_chars")
                / F.when(F.sum("n_tokens") > 0, F.sum("n_tokens")),
                6,
            ).alias("chars_per_token"),
        )
    )


def _fertility_sql() -> str:
    enc = _bpe_encode_sql()
    return f"""
WITH enc AS ({enc})
SELECT d.source,
       SUM(e.n_words) AS words,
       SUM(e.n_tokens) AS tokens,
       SUM(d.n_chars) AS chars,
       ROUND(SUM(e.n_tokens) / CAST(CASE WHEN SUM(e.n_words) > 0
             THEN SUM(e.n_words) END AS DOUBLE), 6) AS fertility,
       ROUND(SUM(d.n_chars) / CAST(CASE WHEN SUM(e.n_tokens) > 0
             THEN SUM(e.n_tokens) END AS DOUBLE), 6) AS chars_per_token
FROM enc e JOIN documents d USING (doc_id)
GROUP BY 1
"""


_WINNOW_K, _WINNOW_W = 5, 4


def dedup_winnow_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing (MOSS) cross-doc overlap (text.winnow_overlap_report):
    per-window rightmost-min fingerprint selection is pure map-side
    HOFs; only the ~2/(w+1)-density winnowed stream shuffles. The
    oracle restates the window-min RELATIONALLY (gram→window explode +
    ROW_NUMBER argmin) — an independent formulation of the same
    selection."""
    return text.winnow_overlap_report(
        spread(load(spark, sf, "documents"), "doc_id"),
        k=_WINNOW_K,
        w=_WINNOW_W,
    )


def _winnow_sql() -> str:
    k, w = _WINNOW_K, _WINNOW_W
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
gh AS (
  SELECT doc_id, i AS p,
         md5(array_to_string(t[i:i+{k - 1}], ' ')) AS h
  FROM toks, unnest(generate_series(
    1, CASE WHEN len(t) < {k} THEN 0 ELSE len(t) - {k - 1} END)) u(i)
  UNION ALL
  SELECT doc_id, 1 AS p, md5(array_to_string(t, ' ')) AS h
  FROM toks WHERE len(t) < {k}
),
ng AS (SELECT doc_id, COUNT(*) AS n FROM gh GROUP BY 1),
wins AS (
  SELECT g.doc_id, v.j, g.h, g.p
  FROM gh g JOIN ng USING (doc_id),
       unnest(generate_series(
         GREATEST(1, g.p - {w - 1}),
         LEAST(g.p, GREATEST(ng.n - {w - 1}, 1)))) v(j)
),
sel AS (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id, j, h, p,
           ROW_NUMBER() OVER (PARTITION BY doc_id, j
                              ORDER BY h ASC, p DESC) AS rn
    FROM wins) WHERE rn = 1
),
cross_c AS (SELECT h, COUNT(*) AS n_docs FROM sel GROUP BY 1),
tot AS (SELECT doc_id, COUNT(*) AS n_fingerprints FROM sel GROUP BY 1),
sh AS (
  SELECT s.doc_id, COUNT(*) AS n_shared
  FROM sel s JOIN cross_c c USING (h)
  WHERE c.n_docs >= 2 GROUP BY 1
)
SELECT t.doc_id, t.n_fingerprints,
       COALESCE(sh.n_shared, 0) AS n_shared,
       ROUND(COALESCE(sh.n_shared, 0)
             / GREATEST(t.n_fingerprints, 1), 6) AS shared_fraction
FROM tot t LEFT JOIN sh USING (doc_id)
"""


_DSIR_B = 256
_DSIR_SALT = "dsir"
_BPE_TOP = 50


def sample_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (sampling.dsir_log_weights): src0 is the
    trusted target domain; every doc scored by hashed-token
    target-vs-raw log-likelihood ratio."""
    docs = load(spark, sf, "documents")
    return sampling.dsir_log_weights(
        docs, F.col("source") == "src0", buckets=_DSIR_B, salt=_DSIR_SALT
    ).orderBy("doc_id")


def _dsir_sql() -> str:
    nib = "(strpos('0123456789abcdef', substr(h, {k}, 1)) - 1)"
    bucket = " + ".join(
        f"{nib.format(k=k + 1)} * {16 ** (3 - k)}" for k in range(4)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, source = 'src0' AS tgt, unnest({_TOKS}) AS tok
  FROM documents
),
hashed AS (
  SELECT doc_id, tgt, md5('{_DSIR_SALT}:' || tok) AS h
  FROM toks WHERE tok <> ''
),
b AS (SELECT doc_id, tgt, ({bucket}) % {_DSIR_B} AS bk FROM hashed),
counts AS (
  SELECT bk, SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS n_t,
         COUNT(*) - SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS n_r
  FROM b GROUP BY bk),
tot AS (SELECT SUM(n_t) AS tot_t, SUM(n_r) AS tot_r FROM counts),
ratio AS (
  SELECT bk, ln((n_t + 1) / (tot_t + {_DSIR_B}))
             - ln((n_r + 1) / (tot_r + {_DSIR_B})) AS lr
  FROM counts CROSS JOIN tot),
scored AS (
  SELECT doc_id, COUNT(*) AS n_tokens, ROUND(SUM(lr), 6) AS log_weight
  FROM b JOIN ratio USING (bk) GROUP BY doc_id)
SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens, s.log_weight
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY d.doc_id
"""


def text_bpe_merge_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """BPE vocabulary induction, one iteration (text.bpe_pair_counts):
    the top adjacent character pairs a BPE trainer would merge next,
    computed over the word-frequency table (vocab-bounded explode)."""
    return text.bpe_pair_counts(load(spark, sf, "documents"), top_k=_BPE_TOP)


BPE_PAIRS_SQL = f"""
WITH words AS (
  SELECT w, COUNT(*) AS freq FROM (
    SELECT unnest({_TOKS}) AS w FROM documents) WHERE w <> ''
  GROUP BY w),
pairs AS (
  SELECT freq, unnest(list_transform(
           generate_series(1, length(w) - 1),
           i -> substr(w, i, 2))) AS pair
  FROM words WHERE length(w) >= 2),
counts AS (SELECT pair, SUM(freq) AS pair_n FROM pairs GROUP BY pair)
SELECT pair, CAST(pair_n AS BIGINT) AS pair_n,
       ROW_NUMBER() OVER (ORDER BY pair_n DESC, pair) AS rk
FROM counts QUALIFY rk <= {_BPE_TOP}
"""


def sample_curriculum_order(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum ordering: a global 1-based training ordinal by
    difficulty proxy (n_chars asc, doc_id tiebreak) via the distributed
    two-level rank (scale.global_rank) — NEVER a single-partition
    ``row_number() OVER (ORDER BY ...)`` window. The oracle IS that
    single-partition form, which DuckDB can afford at test scale."""
    from icnarc_to_philips_linkage_spark.operators.scale import global_rank

    docs = load(spark, sf, "documents").select("doc_id", "n_chars")
    return global_rank(docs, ["n_chars", "doc_id"], rank_col="rank")


CURRICULUM_SQL = """
SELECT doc_id, n_chars,
       ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rank
FROM documents
"""


def src_agg_pushdown_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Footer-only statistics (readers.parquet_footer_stats): COUNT/
    MIN/MAX pushed into the v2 parquet scan — answered from file
    footers, zero row data read. The collected single row comes back as
    a DataFrame for the oracle gate."""
    from icnarc_to_philips_linkage_spark.sources.readers import (
        parquet_footer_stats,
    )

    row, _plan = parquet_footer_stats(
        spark, f"{sf}/lineitem.parquet", "l_quantity"
    )
    return spark.createDataFrame(
        [row], "n_rows long, min_v double, max_v double"
    )


SRC_AGG_PUSHDOWN_SQL = """
SELECT COUNT(*) AS n_rows, MIN(l_quantity) AS min_v,
       MAX(l_quantity) AS max_v
FROM lineitem
"""


def sim_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate k-NN graph over the WHOLE corpus
    (similarity.knn_graph_lsh): LSH-bucketed self-join, top-5 per node —
    the first stage of graph-based dedup / label propagation / HNSW
    builds. Literal hyperplanes reproduce in the oracle."""
    emb = load(spark, sf, "embeddings")
    return similarity.knn_graph_lsh(emb, k=5, n_planes=N_PLANES, dim=DIM)


def _knn_graph_sql() -> str:
    planes = [similarity._hyperplane(p, DIM) for p in range(N_PLANES)]

    def plane_lit(plane: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in plane) + "]"

    def dot_plane(v: str, plane: list[float]) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({v}[i] AS DOUBLE) * ({plane_lit(plane)})[i]))"
        )

    bucket = " + ".join(
        f"CAST({dot_plane('embedding', plane)} > 0 AS INT) * {1 << p}"
        for p, plane in enumerate(planes)
    )
    return f"""
WITH hashed AS (
  SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
),
sims AS (
  SELECT a.vec_id AS node_id, b.vec_id AS neighbor_id,
         {_cos_sql('a.embedding', 'b.embedding')} AS cos_sim
  FROM hashed a JOIN hashed b USING (bucket)
  WHERE a.vec_id != b.vec_id
)
SELECT node_id, neighbor_id, cos_sim FROM sims
QUALIFY row_number() OVER (
  PARTITION BY node_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
"""


_NEG_K, _NEG_SALT = 3, "neg"


def sample_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic contrastive negative sampling
    (sampling.negative_samples): 3 hash-pinned negatives per document
    via the dense global_rank index."""
    docs = load(spark, sf, "documents")
    return sampling.negative_samples(
        docs, "doc_id", k=_NEG_K, salt=_NEG_SALT
    ).orderBy("anchor_id", "j")


def _negatives_sql() -> str:
    nib = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    hv = " + ".join(
        f"{nib.format(i=i + 1)} * {16 ** (7 - i)}" for i in range(8)
    )
    js = ", ".join(str(j) for j in range(_NEG_K))
    return f"""
WITH ranked AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS idx FROM documents),
nn AS (SELECT COUNT(*) AS n FROM documents),
fanned AS (
  SELECT r.doc_id AS anchor_id, r.idx AS a_idx, j.j
  FROM ranked r CROSS JOIN (SELECT unnest([{js}]) AS j) j),
hashed AS (
  SELECT anchor_id, a_idx, j,
         md5('{_NEG_SALT}:' || anchor_id || ':' || j) AS h
  FROM fanned),
picked AS (
  SELECT anchor_id, a_idx, j, (({hv}) % nn.n) + 1 AS raw_idx, nn.n
  FROM hashed CROSS JOIN nn),
fixed AS (
  SELECT anchor_id, j,
         CASE WHEN raw_idx = a_idx THEN (raw_idx % n) + 1
              ELSE raw_idx END AS n_idx
  FROM picked)
SELECT f.anchor_id, f.j, r.doc_id AS negative_id
FROM fixed f JOIN ranked r ON r.idx = f.n_idx
ORDER BY f.anchor_id, f.j
"""


def filter_blocklist(spark: SparkSession, sf: str) -> DataFrame:
    """Safety/content screen (pii.blocklist_filter): rate-normalized
    blocklist hits + keep/drop. Hits are PLANTED deterministically
    (every 7th doc gets a heavy triple, every 11th a single word) so
    both decision branches are exercised — same synthetic-signal
    approach as pii_scrub."""
    from icnarc_to_philips_linkage_spark.operators.pii import blocklist_filter

    docs = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit(" badword attack weapon badword explicit"),
            ).when(F.col("doc_id") % 11 == 0, F.lit(" lottery"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = blocklist_filter(docs, "text")
    return out.select(
        "doc_id", "n_profanity", "n_violence", "n_spamlike",
        "n_tokens", "hit_rate_per_1k", "kept",
    )


def _blocklist_sql() -> str:
    from icnarc_to_philips_linkage_spark.operators.pii import (
        BLOCKLIST_CATEGORIES,
    )

    aug = (
        "text || CASE WHEN doc_id % 7 = 0 "
        "THEN ' badword attack weapon badword explicit' "
        "WHEN doc_id % 11 = 0 THEN ' lottery' ELSE '' END"
    )
    counts, total = [], []
    from icnarc_to_philips_linkage_spark.operators.pii import _word_pattern

    for cat, words in BLOCKLIST_CATEGORIES:
        pat = "(" + "|".join(_word_pattern(w) for w in words) + ")"
        expr = f"len(regexp_extract_all(lower({aug}), '{pat}'))"
        counts.append(f"{expr} AS n_{cat}")
        total.append(expr)
    tot = " + ".join(total)
    n_tok = (
        f"CASE WHEN length(trim({aug})) = 0 THEN 0 "
        f"ELSE len(regexp_split_to_array(trim(lower({aug})), '\\s+')) END"
    )
    return f"""
SELECT doc_id, {', '.join(counts)},
       {n_tok} AS n_tokens,
       ROUND(({tot}) * 1000.0 / GREATEST({n_tok}, 1), 6) AS hit_rate_per_1k,
       ROUND(({tot}) * 1000.0 / GREATEST({n_tok}, 1), 6) <= 5.0 AS kept
FROM documents
"""


def report_corpus_datasheet(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus data-card table (reports.corpus_datasheet): per-source
    composition, language spread, length distribution, exact dup rate —
    one aggregation pass."""
    from icnarc_to_philips_linkage_spark.operators.reports import (
        corpus_datasheet,
    )

    return corpus_datasheet(load(spark, sf, "documents"))


DATASHEET_SQL = """
SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT lang) AS n_langs,
       SUM(length(text)) AS total_chars,
       ROUND(AVG(length(text)), 6) AS avg_chars,
       quantile_cont(length(text), 0.5) AS p50_chars,
       ROUND(1 - COUNT(DISTINCT md5(text)) * 1.0 / COUNT(*), 6) AS dup_rate
FROM documents GROUP BY source
"""


_VOCAB_N = 1000


def text_tokens_to_ids(spark: SparkSession, sf: str) -> DataFrame:
    """Training token-id materialization (text.tokens_to_ids): corpus
    top-1000 vocab, UNK=0, per-doc ORDERED id arrays."""
    return text.tokens_to_ids(
        load(spark, sf, "documents"), vocab_size=_VOCAB_N
    ).orderBy("doc_id")


TOKENS_TO_IDS_SQL = f"""
WITH base AS (SELECT doc_id, {_TOKS} AS arr FROM documents),
toks AS (
  SELECT doc_id, tok, pos FROM (
    SELECT doc_id, unnest(arr) AS tok,
           unnest(range(1, len(arr) + 1)) AS pos
    FROM base)
  WHERE tok <> ''),
vocab AS (
  SELECT tok, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS id
  FROM (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok)
  QUALIFY id <= {_VOCAB_N}),
mapped AS (
  SELECT t.doc_id, t.pos, COALESCE(v.id, 0) AS id
  FROM toks t LEFT JOIN vocab v USING (tok)),
assembled AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         list(id ORDER BY pos) AS ids
  FROM mapped GROUP BY doc_id)
SELECT d.doc_id, COALESCE(a.n_tokens, 0) AS n_tokens,
       COALESCE(a.ids, []) AS ids
FROM documents d LEFT JOIN assembled a USING (doc_id)
ORDER BY d.doc_id
"""


_WRES_K = 100


def sample_bootstrap_means(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson-bootstrap replicate means of document length
    (sampling.poisson_bootstrap_means): 16 deterministic md5-seeded
    resamples of the corpus, each collapsing map-side to one weighted
    decimal sum — the scale-correct form of bootstrap confidence
    intervals (resampling 100 TB with replacement is a weight column,
    not a copy)."""
    return sampling.poisson_bootstrap_means(
        load(spark, sf, "documents"),
        "doc_id",
        "n_chars",
        replicates=16,
    )


def _bootstrap_sql() -> str:
    from icnarc_to_philips_linkage_spark.operators.sampling import (
        POISSON1_CDF,
    )

    nib = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    hv = " + ".join(
        f"{nib.format(i=i + 1)} * {16 ** (7 - i)}" for i in range(8)
    )
    cases = " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(POISSON1_CDF)
    )
    return f"""
WITH hashed AS (
  SELECT CAST(n_chars AS DECIMAL(18,6)) AS v, b.replicate,
         substr(md5('boot:' || CAST(b.replicate AS VARCHAR) || ':'
                    || CAST(doc_id AS VARCHAR)), 1, 8) AS h
  FROM documents
  CROSS JOIN (SELECT unnest(range(16)) AS replicate) b),
weighted AS (
  SELECT replicate, v,
         CASE {cases} ELSE 6 END AS w
  FROM (SELECT replicate, v, ({hv}) / {float(16 ** 8)!r} AS u
        FROM hashed))
SELECT replicate, SUM(w) AS n_eff,
       ROUND(CAST(SUM(w * v) AS DOUBLE) / SUM(w), 6) AS boot_mean
FROM weighted GROUP BY replicate
"""


def sample_group_capped(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group cap (sampling.group_capped_sample): at most 30 docs
    per language, deterministic md5-order selection; the row_number
    cap plans as WindowGroupLimit (partial discard before the group
    shuffle)."""
    return sampling.group_capped_sample(
        load(spark, sf, "documents").select("doc_id", "lang"),
        "lang",
        "doc_id",
        30,
    )


SAMPLE_GROUP_CAPPED_SQL = """
SELECT doc_id, lang FROM documents
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY lang
  ORDER BY substr(md5('gcap:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
) <= 30
"""


_INFER_BAND, _INFER_BATCH = 256, 32


def pack_inference_batches(spark: SparkSession, sf: str) -> DataFrame:
    """Length-bucketed inference batching (scale.grouped_global_rank):
    docs bucket by length band, get a per-bucket dense ordinal (two-
    level grouped rank — a per-bucket window would put each whole band
    through one task), and fixed-size batches form within each bucket
    in ascending length order. The per-batch report prices the layout:
    pad_frac = 1 - sum_len/(n·max_len), the padding waste an inference
    server pays for that batch."""
    from icnarc_to_philips_linkage_spark.operators.scale import (
        grouped_global_rank,
    )

    docs = (
        load(spark, sf, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select(
            "doc_id",
            "n_chars",
            F.floor(F.col("n_chars") / _INFER_BAND).alias("bucket"),
        )
    )
    ranked = grouped_global_rank(
        docs, ["bucket"], ["n_chars", "doc_id"]
    )
    return (
        ranked.withColumn(
            "batch_id",
            F.floor((F.col("rank") - 1) / _INFER_BATCH).cast("long"),
        )
        .groupBy("bucket", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_chars").alias("max_len"),
            F.sum("n_chars").alias("sum_len"),
            F.round(
                F.lit(1.0)
                - F.sum("n_chars")
                / (F.count(F.lit(1)) * F.max("n_chars")),
                6,
            ).alias("pad_frac"),
        )
    )


PACK_INFER_SQL = f"""
WITH banded AS (
  SELECT doc_id, n_chars,
         CAST(FLOOR(n_chars / {_INFER_BAND}) AS BIGINT) AS bucket
  FROM documents WHERE n_chars IS NOT NULL
),
ranked AS (
  SELECT bucket, n_chars,
         ROW_NUMBER() OVER (PARTITION BY bucket
                            ORDER BY n_chars, doc_id) AS rank
  FROM banded
)
SELECT bucket,
       CAST(FLOOR((rank - 1) / {_INFER_BATCH}) AS BIGINT) AS batch_id,
       COUNT(*) AS n_docs,
       MAX(n_chars) AS max_len,
       SUM(n_chars) AS sum_len,
       ROUND(1.0 - SUM(n_chars) * 1.0 / (COUNT(*) * MAX(n_chars)), 6)
         AS pad_frac
FROM ranked GROUP BY 1, 2
"""


def sample_weighted_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-k weighted sample without replacement
    (sampling.weighted_reservoir_topk, Efraimidis-Spirakis keys):
    n_chars-weighted top-100 over documents."""
    return sampling.weighted_reservoir_topk(
        load(spark, sf, "documents"), "doc_id", F.col("n_chars"), k=_WRES_K
    )


def _wres_sql() -> str:
    from icnarc_to_philips_linkage_spark.operators.sampling import _HEX_SPACE

    nib = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    hv = " + ".join(
        f"{nib.format(i=i + 1)} * {16 ** (7 - i)}" for i in range(8)
    )
    return f"""
WITH hashed AS (
  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
         substr(md5('wres:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
keyed AS (
  SELECT doc_id, weight,
         ROUND(pow((({hv}) + 1.0) / {float(_HEX_SPACE + 1)!r},
                   1.0 / weight), 9) AS sample_key
  FROM hashed)
SELECT doc_id, weight, sample_key,
       ROW_NUMBER() OVER (ORDER BY sample_key DESC, doc_id) AS rank
FROM keyed
QUALIFY rank <= {_WRES_K}
"""


_SWRES_K = 20


def sample_stratified_reservoir(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-n weighted sample per stratum
    (sampling.stratified_reservoir_topk): exactly 20 docs per
    language, n_chars-weighted, via per-stratum Efraimidis-Spirakis
    reservoirs — two-level top-k, no per-stratum window funnel."""
    return sampling.stratified_reservoir_topk(
        load(spark, sf, "documents"),
        "lang",
        "doc_id",
        F.col("n_chars"),
        k=_SWRES_K,
    )


def _swres_sql() -> str:
    from icnarc_to_philips_linkage_spark.operators.sampling import _HEX_SPACE

    nib = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    hv = " + ".join(
        f"{nib.format(i=i + 1)} * {16 ** (7 - i)}" for i in range(8)
    )
    return f"""
WITH hashed AS (
  SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS weight,
         substr(md5('swres:' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
  FROM documents
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0),
keyed AS (
  SELECT lang, doc_id, weight,
         ROUND(pow((({hv}) + 1.0) / {float(_HEX_SPACE + 1)!r},
                   1.0 / weight), 9) AS sample_key
  FROM hashed)
SELECT lang, doc_id, weight, sample_key,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY lang ORDER BY sample_key DESC, doc_id
       ) AS INTEGER) AS rank
FROM keyed
QUALIFY rank <= {_SWRES_K}
"""


def check_split_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Split-contamination expectation (checks.split_leakage_report):
    content digests spanning train AND test after the id hash split —
    nonzero means dedup must run before splitting. The corpus texts are
    unique, so duplicates are PLANTED (every 13th doc re-appears under
    a shifted id — same synthetic-signal approach as pii_scrub) to
    exercise the leak branch."""
    from icnarc_to_philips_linkage_spark.operators.checks import (
        split_leakage_report,
    )

    docs = load(spark, sf, "documents").select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return split_leakage_report(docs.unionByName(dupes))


def _leakage_sql() -> str:
    from icnarc_to_philips_linkage_spark.operators.sampling import (
        _threshold_hex,
    )

    cases, cum = [], 0.0
    for name, frac in {"train": 0.8, "test": 0.2}.items():
        cum += frac
        cases.append(f"WHEN bucket < '{_threshold_hex(cum)}' THEN '{name}'")
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
  WHERE doc_id % 13 = 0 AND text IS NOT NULL),
labeled AS (
  SELECT md5(text) AS dg,
         CASE {' '.join(cases)} END AS split
  FROM (SELECT text,
               substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8)
                   AS bucket
        FROM corpus)
  WHERE CASE {' '.join(cases)} END IS NOT NULL),
per_digest AS (
  SELECT dg, COUNT(DISTINCT split) AS n_splits, COUNT(*) AS n_docs
  FROM labeled GROUP BY dg)
SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_digests,
       CAST(COUNT(CASE WHEN n_splits > 1 THEN 1 END) AS BIGINT)
           AS n_leaked_digests,
       CAST(COALESCE(SUM(CASE WHEN n_splits > 1 THEN n_docs END), 0)
            AS BIGINT) AS n_leaked_docs,
       ROUND(COALESCE(SUM(CASE WHEN n_splits > 1 THEN n_docs END), 0)
             / SUM(n_docs), 6) AS leaked_doc_frac
FROM per_digest
"""


def drift_wasserstein(spark: SparkSession, sf: str) -> DataFrame:
    """Binned Wasserstein-1 drift (drift.wasserstein_report) over the
    same corpus-vs-incoming slices and bucket grid as drift_psi — the
    magnitude-sensitive complement to PSI (support) and KS (worst
    gap)."""
    from icnarc_to_philips_linkage_spark.operators import drift

    d = load(spark, sf, "documents")
    batch_no = F.substring("source", 4, 10).cast("int")
    return drift.wasserstein_report(
        d, batch_no < 10, "n_chars",
        lo=_PSI_LO, hi=_PSI_HI, bins=_PSI_BINS,
    )


def _wasserstein_sql() -> str:
    width = (_PSI_HI - _PSI_LO) / _PSI_BINS
    return f"""
WITH tagged AS (
  SELECT LEAST({_PSI_BINS - 1}, GREATEST(0,
           CAST(FLOOR((CAST(n_chars AS DOUBLE) - {_PSI_LO}) / {width})
                AS BIGINT))) AS bucket,
         CASE WHEN TRY_CAST(SUBSTR(source, 4) AS INT) IS NULL THEN NULL
              WHEN TRY_CAST(SUBSTR(source, 4) AS INT) < 10
              THEN 1 ELSE 0 END AS is_ref
  FROM documents),
counts AS (
  SELECT bucket,
         COUNT(*) FILTER (is_ref = 1) AS n_ref,
         COUNT(*) FILTER (is_ref = 0) AS n_cur
  FROM tagged WHERE bucket IS NOT NULL AND is_ref IS NOT NULL
  GROUP BY 1),
probs AS (
  SELECT bucket,
         n_ref / SUM(n_ref) OVER () AS pr,
         n_cur / SUM(n_cur) OVER () AS pc
  FROM counts),
cdfs AS (
  SELECT bucket, pr, pc,
         SUM(pr) OVER (ORDER BY bucket
                       ROWS UNBOUNDED PRECEDING) AS cr,
         SUM(pc) OVER (ORDER BY bucket
                       ROWS UNBOUNDED PRECEDING) AS cc,
         LEAD(bucket, 1, {_PSI_BINS}) OVER (ORDER BY bucket) - bucket
             AS span
  FROM probs)
SELECT bucket, ROUND(pr, 6) AS p_ref, ROUND(pc, 6) AS p_cur,
       ROUND(cr, 6) AS cdf_ref, ROUND(cc, 6) AS cdf_cur,
       ROUND(SUM(ABS(cr - cc) * span) OVER () * {width}, 6) AS w1_total
FROM cdfs
"""


# ------------------------------------------------------------------ web / URL

# deterministic synthetic URLs from doc_id (the pii_scrub idiom: the
# testdata has no URL column, so both engines derive the SAME urls in
# closed form and the canonicalization is tested end-to-end)


def _synth_url_col() -> F.Column:
    d = F.col("doc_id")
    scheme = F.when(d % 7 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    www = F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    tld = (
        F.when(d % 5 == 0, F.lit(".com"))
        .when(d % 5 == 1, F.lit(".co.uk"))
        .when(d % 5 == 2, F.lit(".org"))
        .when(d % 5 == 3, F.lit(".net"))
        .otherwise(F.lit(".com.au"))
    )
    host = F.concat(www, F.lit("site"), (d % 50).cast("string"), tld)
    port = F.when(d % 13 == 0, F.lit(":443")).otherwise(F.lit(""))
    path = F.concat(
        F.lit("/p/"),
        (d % 97).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    q = (
        F.when(d % 4 == 0, F.lit("?b=2&utm_source=x&a=1"))
        .when(d % 4 == 1, F.lit("?a=1&b=2"))
        .when(d % 4 == 2, F.lit(""))
        .otherwise(F.lit("?gclid=zz"))
    )
    frag = F.when(d % 6 == 0, F.lit("#sec1")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, path, q, frag)


_SYNTH_URL_SQL = """
    CASE WHEN doc_id % 7 = 0 THEN 'HTTP' ELSE 'https' END || '://'
    || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END
    || 'site' || CAST(doc_id % 50 AS VARCHAR)
    || CASE doc_id % 5 WHEN 0 THEN '.com' WHEN 1 THEN '.co.uk'
            WHEN 2 THEN '.org' WHEN 3 THEN '.net' ELSE '.com.au' END
    || CASE WHEN doc_id % 13 = 0 THEN ':443' ELSE '' END
    || '/p/' || CAST(doc_id % 97 AS VARCHAR)
    || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
    || CASE doc_id % 4 WHEN 0 THEN '?b=2&utm_source=x&a=1'
            WHEN 1 THEN '?a=1&b=2' WHEN 2 THEN '' ELSE '?gclid=zz' END
    || CASE WHEN doc_id % 6 = 0 THEN '#sec1' ELSE '' END
"""


def _web_canon_ctes() -> str:
    """Shared DuckDB CTE chain mirroring operators/web.py's
    canonicalization step for step (same regexes, same ordering)."""
    from icnarc_to_philips_linkage_spark.operators import web as W

    track = W.TRACKING_PARAM_RE
    suf = ", ".join(f"'{x}'" for x in W.TWO_LEVEL_SUFFIXES)
    return rf"""
urls AS (
  SELECT doc_id, trim({_SYNTH_URL_SQL}) AS u FROM documents
),
parts AS (
  SELECT doc_id, u,
         lower(regexp_extract(u, '{W.RE_SCHEME}', 1)) AS scheme,
         regexp_extract(u, '{W.RE_AUTH}', 1) AS auth,
         regexp_extract(u, '{W.RE_PATH}', 1) AS rawpath,
         regexp_extract(u, '\?([^#]*)', 1) AS rawq
  FROM urls
),
hostp AS (
  SELECT doc_id, scheme,
         regexp_replace(
           lower(regexp_replace(regexp_replace(auth, ':\d+$', ''),
                                '\.$', '')),
           '^www\.', '') AS host,
         regexp_extract(auth, ':(\d+)$', 1) AS port,
         CASE WHEN regexp_replace(rawpath, '/+$', '') = '' THEN '/'
              ELSE regexp_replace(rawpath, '/+$', '') END AS path,
         COALESCE(array_to_string(
           list_sort(list_filter(string_split(rawq, '&'),
             x -> x <> '' AND NOT regexp_matches(x, '{track}'))),
           '&'), '') AS q
  FROM parts
),
canon AS (
  SELECT doc_id, host,
         scheme || '://' || host
         || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                   OR (scheme = 'https' AND port = '443')
                 THEN '' ELSE ':' || port END
         || path
         || CASE WHEN q = '' THEN '' ELSE '?' || q END AS canon_url,
         CASE
           WHEN host = '' THEN ''
           WHEN len(string_split(host, '.')) >= 3
                AND (string_split(host, '.')[-2] || '.'
                     || string_split(host, '.')[-1]) IN ({suf})
             THEN string_split(host, '.')[-3] || '.'
                  || string_split(host, '.')[-2] || '.'
                  || string_split(host, '.')[-1]
           WHEN len(string_split(host, '.')) >= 2
             THEN string_split(host, '.')[-2] || '.'
                  || string_split(host, '.')[-1]
           ELSE host
         END AS domain
  FROM hostp
)"""


def web_url_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization end-to-end (operators/web.py): synthetic
    per-doc URLs exercising case, www, default/non-default ports,
    trailing slashes, tracking params, param order and fragments are
    canonicalized by the native expression chain; the oracle re-derives
    both the synthesis AND the canonicalization in SQL from the shared
    regex constants — an independent restatement, not a copy."""
    from icnarc_to_philips_linkage_spark.operators import web as W

    d = load(spark, sf, "documents").select(
        "doc_id", _synth_url_col().alias("url")
    )
    host = W.host_of(F.col("url"))
    return d.select(
        "doc_id",
        W.canonicalize_url("url").alias("canon_url"),
        host.alias("host"),
        W.registered_domain_of(host).alias("domain"),
    )


def _web_canon_sql() -> str:
    return f"""
WITH {_web_canon_ctes()}
SELECT doc_id, canon_url, host, domain FROM canon
"""


def web_url_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical-URL dedup groups (web.url_dedup_groups): tracking-param
    and ordering variants of one URL collapse to one group — the
    exact_dedup_groups shuffle shape with canonicalization fused into
    the scan."""
    from icnarc_to_philips_linkage_spark.operators import web as W

    d = load(spark, sf, "documents").select(
        "doc_id", _synth_url_col().alias("url")
    )
    return W.url_dedup_groups(d)


def _web_dedup_sql() -> str:
    return f"""
WITH {_web_canon_ctes()}
SELECT canon_url, MIN(doc_id) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM canon GROUP BY canon_url
"""


def web_domain_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain corpus profile (web.domain_profile): doc counts,
    distinct canonical URLs and corpus share — the skew report behind
    per-domain caps."""
    from icnarc_to_philips_linkage_spark.operators import web as W

    d = load(spark, sf, "documents").select(
        "doc_id", _synth_url_col().alias("url")
    )
    return W.domain_profile(d)


def _web_profile_sql() -> str:
    return f"""
WITH {_web_canon_ctes()},
per AS (
  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT canon_url) AS BIGINT) AS n_urls
  FROM canon GROUP BY domain
)
SELECT domain, n_docs, n_urls,
       ROUND(n_docs / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS share
FROM per
"""



_DOMAIN_CAP = 20


def web_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain document cap (web.cap_per_domain): at most
    _DOMAIN_CAP docs per registered domain, kept in deterministic
    md5(domain:id) order — the anti-mirror curation stage. Output
    (domain, n_kept) so the frame is grid-bounded and hash-matchable;
    the oracle replays the same hash order with a window row_number."""
    from icnarc_to_philips_linkage_spark.operators import web as W

    d = load(spark, sf, "documents").select(
        "doc_id", _synth_url_col().alias("url")
    )
    kept = W.cap_per_domain(d, _DOMAIN_CAP)
    return kept.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_kept_id"),
    )


def _web_cap_sql() -> str:
    return f"""
WITH {_web_canon_ctes()},
ranked AS (
  SELECT domain, doc_id,
         row_number() OVER (
           PARTITION BY domain
           ORDER BY md5(domain || ':' || CAST(doc_id AS VARCHAR))
         ) AS rn
  FROM canon
)
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_kept,
       MIN(doc_id) AS min_kept_id
FROM ranked WHERE rn <= {_DOMAIN_CAP}
GROUP BY domain
"""



_MMR_K, _MMR_POOL, _MMR_LAM = 5, 20, 0.7


def retrieval_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Diversity-aware top-5 per query vector via maximal marginal
    relevance (retrieval.mmr_rerank): greedy λ·relevance −
    (1−λ)·max-similarity-to-selected over the cosine top-20 pool —
    the context/result selector that stops near-duplicate passages
    from crowding a retrieved set. Selection is k unrolled JVM-side
    rounds over the parameter-bounded pooled frame; the corpus
    streams exactly once (the kNN scan)."""
    from icnarc_to_philips_linkage_spark.operators import retrieval

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    return retrieval.mmr_rerank(
        emb, q, k=_MMR_K, pool=_MMR_POOL, lam=_MMR_LAM
    )


def _mmr_sql() -> str:
    """Unrolled greedy MMR as chained CTEs (the text_bpe_train /
    graph_pagerank_parts oracle technique): one sel{r} CTE per
    selection round, each re-deriving the penalty from the rounds
    already chosen — an INDEPENDENT restatement of the greedy rule.
    Scoring mirrors the engine's scaled-integer micro-unit arithmetic
    (see retrieval.mmr_rerank): score_u = p·rel_u − (q−p)·pen_u in
    BIGINT, mmr_score = score_u / (q·1e6)."""
    from fractions import Fraction

    frac = Fraction(str(_MMR_LAM))
    p, q, k = frac.numerator, frac.denominator, _MMR_K
    scale = float(q * 1_000_000)
    parts = [f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {KNN_QUERY_LIMIT}),
rel AS (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(ROUND(cos_sim * 1000000) AS BIGINT) AS rel_u
  FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {_cos_sql('q.qv', 'c.embedding')} AS cos_sim
    FROM embeddings c, q WHERE c.vec_id != q.query_id)
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC)
    <= {_MMR_POOL}
),
ps AS (
  SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
         CAST(ROUND({_cos_sql('va.embedding', 'vb.embedding')} * 1000000)
              AS BIGINT) AS ps_u
  FROM rel a
  JOIN rel b ON a.query_id = b.query_id AND a.neighbor_id != b.neighbor_id
  JOIN embeddings va ON va.vec_id = a.neighbor_id
  JOIN embeddings vb ON vb.vec_id = b.neighbor_id
),
sel1 AS (
  SELECT query_id, 1 AS rank, neighbor_id, cos_sim,
         CAST({p} * rel_u AS DOUBLE) / {scale!r} AS mmr_score,
         {p} * rel_u AS score_u
  FROM rel
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY score_u DESC, neighbor_id ASC) = 1
),
selall1 AS (SELECT * FROM sel1)"""]
    for r in range(2, k + 1):
        parts.append(f""",
pen{r} AS (
  SELECT ps.query_id, ps.a_id AS neighbor_id,
         max(ps.ps_u) AS pen_u
  FROM ps
  JOIN selall{r-1} s
    ON ps.query_id = s.query_id AND ps.b_id = s.neighbor_id
  GROUP BY 1, 2
),
sel{r} AS (
  SELECT query_id, {r} AS rank, neighbor_id, cos_sim,
         CAST(score_u AS DOUBLE) / {scale!r} AS mmr_score, score_u
  FROM (
    SELECT rel.*,
           {p} * rel.rel_u
             - {q - p} * COALESCE(pen{r}.pen_u, 0) AS score_u
    FROM rel LEFT JOIN pen{r} USING (query_id, neighbor_id)
    WHERE NOT EXISTS (
      SELECT 1 FROM selall{r-1} s
      WHERE s.query_id = rel.query_id
        AND s.neighbor_id = rel.neighbor_id))
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY score_u DESC, neighbor_id ASC) = 1
),
selall{r} AS (SELECT * FROM selall{r-1} UNION ALL SELECT * FROM sel{r})""")
    parts.append(
        f"\nSELECT query_id, rank, neighbor_id, cos_sim, mmr_score"
        f" FROM selall{k}"
    )
    return "".join(parts)



# --------------------------------------------------- round 8: label QA,
# LSH tuning, vocab fit, Gopher rules, Matryoshka truncation


def eval_cohens_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's kappa between the gold ``lang`` column and the
    marker-word language-ID prediction (evaluation.cohens_kappa) —
    chance-corrected labeler-vs-gold agreement, the label-QA statistic
    raw percent-agreement over-credits on skewed classes. Multi-class
    (every marker language plus 'unknown'); one k²-bounded contingency
    aggregation, integer arithmetic to the final division.
    ``with_lang_id`` RETAINS the gold column, so gold and prediction
    ride the same scan projection — the corpus is never self-joined
    (one exchange: the k²-row contingency aggregation). Spread, for
    the eval_fleiss_kappa reason (heavy labeling CPU, one-row-group
    scan)."""
    pred = text.with_lang_id(spread(load(spark, sf, "documents"), "doc_id"))
    return evaluation.cohens_kappa(pred, "lang", "lang_pred")


def _kappa_sql() -> str:
    pred_sql = _lang_id_sql().strip()
    return f"""
WITH pred AS (
{pred_sql}
),
lab AS (
  SELECT d.lang AS a, p.lang_pred AS b
  FROM documents d JOIN pred p USING (doc_id)
  WHERE d.lang IS NOT NULL AND p.lang_pred IS NOT NULL
),
cont AS (SELECT a, b, COUNT(*) AS c FROM lab GROUP BY a, b),
tot AS (
  SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n,
         CAST(COALESCE(SUM(CASE WHEN a = b THEN c ELSE 0 END), 0)
              AS BIGINT) AS d
  FROM cont
),
marg AS (
  SELECT CAST(COALESCE(SUM(ra * cb), 0) AS BIGINT) AS e
  FROM (SELECT a, SUM(c) AS ra FROM cont GROUP BY a) r
  JOIN (SELECT b, SUM(c) AS cb FROM cont GROUP BY b) cl ON r.a = cl.b
),
kcl AS (
  SELECT CAST(COUNT(*) AS INTEGER) AS n_classes
  FROM (SELECT a AS x FROM cont UNION SELECT b FROM cont)
)
SELECT n, n_classes,
       CASE WHEN n > 0
            THEN ROUND(CAST(d AS DOUBLE) / CAST(n AS DOUBLE), 9) END AS po,
       CASE WHEN n > 0
            THEN ROUND(CAST(e AS DOUBLE) / CAST(n * n AS DOUBLE), 9)
       END AS pe,
       CASE WHEN n * n != e
            THEN ROUND(CAST(n * d - e AS DOUBLE)
                       / CAST(n * n - e AS DOUBLE), 9)
       END AS kappa
FROM tot, marg, kcl
"""


_BAND_CONFIGS = (1, 2, 4, 8)


def dedup_lsh_band_stats(spark: SparkSession, sf: str) -> DataFrame:
    """LSH tuning report (dedup_scale.lsh_band_stats): measured bucket
    and candidate-pair workload for every (bands, rows) split of the
    same 8-permutation signature, next to each config's analytic
    S-curve midpoint — the candidate-pair bill each setting would
    actually generate on THIS corpus."""
    return dedup_scale.lsh_band_stats(
        spread(load(spark, sf, "documents"), "doc_id"),
        n=SHINGLE_N,
        k=MINHASH_K,
        band_configs=_BAND_CONFIGS,
    )


def _band_stats_sql() -> str:
    k = MINHASH_K
    mins = ",\n    ".join(
        f"MIN(md5('{i}:' || shingle)) AS h{i}" for i in range(k)
    )
    parts = [
        f"""
WITH {_shingle_cte()},
sig AS (
  SELECT doc_id,
    {mins}
  FROM sh GROUP BY doc_id
)"""
    ]
    selects = []
    for b in _BAND_CONFIGS:
        r = k // b
        s_star = round((1.0 / b) ** (1.0 / r), 6)
        band_selects = "\n  UNION ALL ".join(
            f"SELECT doc_id, {i} AS band_idx, "
            f"md5(concat({', '.join(f'h{i * r + j}' for j in range(r))}))"
            f" AS band_hash FROM sig"
            for i in range(b)
        )
        parts.append(f""",
bands{b} AS (
  {band_selects}
),
cfg{b} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_multi_buckets,
         CAST(COALESCE(SUM((c * (c - 1)) // 2), 0) AS BIGINT)
              AS raw_comparisons
  FROM (SELECT band_idx, band_hash, COUNT(*) AS c
        FROM bands{b} GROUP BY band_idx, band_hash)
),
pairs{b} AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS candidate_pairs FROM (
    SELECT DISTINCT a.doc_id, b.doc_id
    FROM bands{b} a JOIN bands{b} b USING (band_idx, band_hash)
    WHERE a.doc_id < b.doc_id)
)""")
        selects.append(
            f"SELECT {b} AS n_bands, {r} AS rows_per_band, "
            f"CAST({s_star!r} AS DOUBLE) AS s_star, n_buckets, "
            f"n_multi_buckets, raw_comparisons, candidate_pairs "
            f"FROM cfg{b}, pairs{b}"
        )
    parts.append("\n" + "\nUNION ALL\n".join(selects))
    return "".join(parts)


VOCAB_K = 200


def text_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary-fit report (text.vocab_coverage): per-source OOV
    occurrence rate against the corpus's own top-200 token vocabulary
    (count DESC, token ASC — a deterministic total order)."""
    return text.vocab_coverage(load(spark, sf, "documents"), vocab_k=VOCAB_K)


def _vocab_coverage_sql() -> str:
    return f"""
WITH occ AS (
  SELECT source, doc_id, unnest({_TOKS}) AS tok FROM documents
),
vocab AS (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS c FROM occ GROUP BY tok
    ORDER BY c DESC, tok ASC LIMIT {VOCAB_K})
),
agg AS (
  SELECT source,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS total_tokens,
         CAST(COALESCE(SUM(CASE WHEN tok IN (SELECT tok FROM vocab)
                            THEN 0 ELSE 1 END), 0) AS BIGINT) AS oov_tokens
  FROM occ GROUP BY source
)
SELECT source, n_docs, total_tokens, oov_tokens,
       ROUND(oov_tokens * 1.0 / GREATEST(total_tokens, 1), 6) AS oov_rate
FROM agg
"""


_GOPHER_RULES = (
    "r_token_count",
    "r_mean_word_len",
    "r_alpha_frac",
    "r_stopwords",
    "r_ellipsis_lines",
    "r_bullet_lines",
    "r_symbol_ratio",
)


def quality_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher heuristic ruleset report (text.with_gopher_rules): per
    source, how many documents each rule kills and how many survive
    the full conjunction — the which-rule-fires breakdown a corpus
    datasheet needs before committing the filter at scale."""
    flags = text.with_gopher_rules(load(spark, sf, "documents"))
    fails = [
        F.sum(F.when(~F.col(c), 1).otherwise(0)).alias(f"fail_{c[2:]}")
        for c in _GOPHER_RULES
    ]
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *fails,
        F.sum(F.when(F.col("gopher_keep"), 1).otherwise(0)).alias("n_keep"),
    )


def _gopher_flags_cte() -> str:
    """base+f CTEs computing the seven per-document Gopher-style rule
    booleans — shared by the per-rule report and funnel oracles."""
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""base AS (
  SELECT source, text, {_TOKS} AS t,
         regexp_replace(text, '\\s+', '', 'g') AS no_ws,
         string_split(text, chr(10)) AS lines
  FROM documents
),
f AS (
  SELECT source,
    len(t) BETWEEN 5 AND 100000 AS r_token_count,
    (LENGTH(no_ws) * 1.0 / GREATEST(len(t), 1)) BETWEEN 2.0 AND 12.0
      AS r_mean_word_len,
    len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) * 1.0
      / GREATEST(len(t), 1) >= 0.7 AS r_alpha_frac,
    len(list_filter(t, w -> w IN ({stop}))) >= 2 AS r_stopwords,
    len(list_filter(lines, l -> l LIKE '%...')) * 1.0
      / GREATEST(len(lines), 1) <= 0.3 AS r_ellipsis_lines,
    len(list_filter(lines,
        l -> l LIKE '-%' OR l LIKE '*%' OR l LIKE '•%')) * 1.0
      / GREATEST(len(lines), 1) <= 0.9 AS r_bullet_lines,
    ((LENGTH(text) - LENGTH(replace(text, '#', '')))
      + (len(string_split(text, '...')) - 1)) * 1.0
      / GREATEST(len(t), 1) <= 0.1 AS r_symbol_ratio
  FROM base
)"""


def _gopher_sql() -> str:
    fail_cols = ",\n  ".join(
        f"CAST(SUM(CASE WHEN NOT {c} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS fail_{c[2:]}"
        for c in _GOPHER_RULES
    )
    keep = " AND ".join(_GOPHER_RULES)
    return f"""
WITH {_gopher_flags_cte()}
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
  {fail_cols},
  CAST(SUM(CASE WHEN {keep} THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
FROM f GROUP BY source
"""


_MATRYOSHKA_DIMS = (16, 32)


def sim_matryoshka_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka truncation evaluation (similarity.matryoshka_recall):
    exact top-5 recall of 16- and 32-dim prefixes of the 64-dim
    embeddings against full-dimension ground truth."""
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    return similarity.matryoshka_recall(
        emb, q, k=5, trunc_dims=_MATRYOSHKA_DIMS
    )


def sim_sq8_recall(spark: SparkSession, sf: str) -> DataFrame:
    """INT8 scalar-quantization retrieval eval (similarity.sq8_recall):
    per-dim [min,max] trained on the corpus, asymmetric top-5 search
    over the dequantized vectors vs full-precision truth, plus the
    exact-decimal reconstruction MSE. The oracle re-derives the
    quantizer bounds and the whole encode/decode in SQL."""
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    return similarity.sq8_recall(emb, q, k=5)


def _sq8_sql() -> str:
    deq_elem = (
        "CASE WHEN mxs[j] > mns[j] THEN mns[j] + "
        "(LEAST(GREATEST(FLOOR(255.0 * "
        "(CAST(embedding[j] AS DOUBLE) - mns[j]) / (mxs[j] - mns[j]) "
        "+ 0.5), 0.0), 255.0) * (mxs[j] - mns[j])) / 255.0 "
        "ELSE mns[j] END"
    )
    return f"""
WITH dims AS (
  SELECT d, MIN(CAST(embedding[d] AS DOUBLE)) AS mn,
         MAX(CAST(embedding[d] AS DOUBLE)) AS mx
  FROM embeddings, unnest(generate_series(1, {DIM})) t(d)
  GROUP BY d
),
bounds AS (
  SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs
  FROM dims
),
deqc AS (
  SELECT vec_id,
         list_transform(generate_series(1, {DIM}), j -> {deq_elem})
           AS dv
  FROM embeddings CROSS JOIN bounds
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < {KNN_QUERY_LIMIT}),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {_cos_sql('q.qv', 'c.embedding')} AS cos_sim
    FROM embeddings c, q WHERE c.vec_id != q.query_id)
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
),
apx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {_cos_sql('q.qv', 'c.dv')} AS cos_sim
    FROM deqc c, q WHERE c.vec_id != q.query_id)
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
),
mseq AS (
  SELECT CAST(ROUND(ROUND(
           list_reduce(
             list_prepend(0.0, list_transform(generate_series(1, {DIM}),
               j -> (CAST(e.embedding[j] AS DOUBLE) - d.dv[j])
                    * (CAST(e.embedding[j] AS DOUBLE) - d.dv[j]))),
             (a, x) -> a + x), 6) * 1e6) AS HUGEINT) AS e6
  FROM embeddings e JOIN deqc d USING (vec_id)
)
SELECT
  (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM truth)
    AS n_queries,
  ROUND((SELECT COUNT(*) FROM truth t JOIN apx a
         USING (query_id, neighbor_id)) * 1.0
        / (SELECT COUNT(*) FROM truth), 6) AS mean_recall,
  (SELECT ROUND(SUM(e6) / 1e6 / COUNT(*), 6) FROM mseq) AS mse
"""


def _cos_sql_d(a: str, b: str, d: int) -> str:
    def dotp(x: str, y: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {d}), "
            f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))"
        )

    return (
        f"ROUND({dotp(a, b)} / (sqrt({dotp(a, a)}) * sqrt({dotp(b, b)})), 6)"
    )


def _matryoshka_sql() -> str:
    parts = [
        f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < {KNN_QUERY_LIMIT}),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {_cos_sql('q.qv', 'c.embedding')} AS cos_sim
    FROM embeddings c, q WHERE c.vec_id != q.query_id)
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
)"""
    ]
    selects = []
    for d in _MATRYOSHKA_DIMS:
        parts.append(f""",
apx{d} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           {_cos_sql_d('q.qv', 'c.embedding', d)} AS cos_sim
    FROM embeddings c, q WHERE c.vec_id != q.query_id)
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
)""")
        selects.append(
            f"SELECT {d} AS trunc_dim,\n"
            f"  (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT)"
            f" FROM truth) AS n_queries,\n"
            f"  ROUND((SELECT COUNT(*) FROM truth t JOIN apx{d} a"
            f" USING (query_id, neighbor_id)) * 1.0\n"
            f"        / (SELECT COUNT(*) FROM truth), 6) AS mean_recall"
        )
    parts.append("\n" + "\nUNION ALL\n".join(selects))
    return "".join(parts)




def eval_fleiss_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Fleiss' kappa among THREE labelers of the same documents — gold
    ``lang``, the marker-word prediction, and the char-trigram
    prediction (evaluation.fleiss_kappa): do the heuristics agree with
    the gold label beyond what their marginal rates force? Both
    predictions chain onto ONE scan (each ``with_lang_id*`` retains
    its input columns), so the m assignments ride a single projection
    — the per-item category counts are row-wise array expressions,
    never a shuffle keyed on the document. The scan is spread: the
    two labeling pipelines are heavy per-row expression CPU (split +
    16 chargram splits per doc) and documents.parquet is a
    single-row-group file at bench scale, so without the exchange the
    whole labeling ran one-task (measured; no-op at real scale)."""
    labeled = text.with_lang_id_chargram(
        text.with_lang_id(spread(load(spark, sf, "documents"), "doc_id"))
    )
    return evaluation.fleiss_kappa(
        labeled, ["lang", "lang_pred", "lang_pred_chargram"]
    )


def _fleiss_sql() -> str:
    p1 = _lang_id_sql().strip()
    p2 = _lang_chargram_sql().strip()
    return f"""
WITH p1 AS (
{p1}
),
p2 AS (
{p2}
),
lab AS (
  SELECT d.doc_id, d.lang AS r1, a.lang_pred AS r2,
         b.lang_pred_chargram AS r3
  FROM documents d JOIN p1 a USING (doc_id) JOIN p2 b USING (doc_id)
  WHERE d.lang IS NOT NULL AND a.lang_pred IS NOT NULL
    AND b.lang_pred_chargram IS NOT NULL
),
cells AS (SELECT doc_id, unnest([r1, r2, r3]) AS cat FROM lab),
nij AS (SELECT doc_id, cat, COUNT(*) AS c FROM cells
        GROUP BY doc_id, cat),
peritem AS (SELECT doc_id, SUM(c * c) AS s2 FROM nij GROUP BY doc_id),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COALESCE(SUM(s2 - 3), 0) AS BIGINT) AS a
  FROM peritem
),
coltot AS (SELECT cat, COUNT(*) AS t FROM cells GROUP BY cat),
bb AS (
  SELECT CAST(COALESCE(SUM(t * t), 0) AS BIGINT) AS b,
         CAST(COUNT(*) AS INTEGER) AS n_categories
  FROM coltot
)
SELECT n AS n_items, 3 AS m_raters, n_categories,
  CASE WHEN n > 0
       THEN ROUND(CAST(a AS DOUBLE) / CAST(n * 3 * 2 AS DOUBLE), 9)
  END AS p_bar,
  CASE WHEN n > 0
       THEN ROUND(CAST(b AS DOUBLE) / CAST((n * 3) * (n * 3) AS DOUBLE), 9)
  END AS p_e,
  CASE WHEN ((n * 3) * (n * 3) - b) * 2 != 0
       THEN ROUND(CAST(a * (n * 3) - b * 2 AS DOUBLE)
                  / CAST(((n * 3) * (n * 3) - b) * 2 AS DOUBLE), 9)
  END AS kappa
FROM tot, bb
"""


def report_dedup_savings(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source exact-dedup savings accounting
    (dedup_scale.dedup_savings_report): documents and token
    occurrences removed if every non-keeper digest copy were dropped,
    removal attributed to the source CARRYING the copy."""
    return dedup_scale.dedup_savings_report(
        spread(load(spark, sf, "documents"), "doc_id")
    )


DEDUP_SAVINGS_SQL = f"""
WITH base AS (
  SELECT source, doc_id, md5(text) AS h,
         CAST(len({_TOKS}) AS BIGINT) AS tok
  FROM documents
),
keepers AS (SELECT h, MIN(doc_id) AS keep_id FROM base GROUP BY h),
agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN b.doc_id != k.keep_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_removed,
         CAST(SUM(tok) AS BIGINT) AS tokens_total,
         CAST(SUM(CASE WHEN b.doc_id != k.keep_id THEN tok ELSE 0 END)
              AS BIGINT) AS tokens_removed
  FROM base b JOIN keepers k USING (h)
  GROUP BY source
)
SELECT source, n_docs, n_removed, tokens_total, tokens_removed,
       ROUND(n_removed * 1.0 / GREATEST(n_docs, 1), 6)
         AS pct_docs_removed,
       ROUND(tokens_removed * 1.0 / GREATEST(tokens_total, 1), 6)
         AS pct_tokens_removed
FROM agg
"""


def quality_gopher_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher rule FUNNEL: survivors after each rule applied in the
    documented order (cumulative conjunction) — the attrition curve a
    filtering run reports, complementing ``quality_gopher_rules``'s
    independent per-rule kill counts. One row, one scan, one global
    aggregate."""
    flags = text.with_gopher_rules(load(spark, sf, "documents"))
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    cum = None
    for c in _GOPHER_RULES:
        cum = F.col(c) if cum is None else (cum & F.col(c))
        aggs.append(F.sum(cum.cast("long")).alias(f"after_{c[2:]}"))
    return flags.agg(*aggs)


def _gopher_funnel_sql() -> str:
    cols, seen = [], []
    for c in _GOPHER_RULES:
        seen.append(c)
        cols.append(
            f"CAST(SUM(CASE WHEN {' AND '.join(seen)} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS after_{c[2:]}"
        )
    cols_sql = ",\n  ".join(cols)
    return f"""
WITH {_gopher_flags_cte()}
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
  {cols_sql}
FROM f
"""




def eval_weighted_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Quadratic-weighted Cohen's kappa on genuinely ORDINAL labels
    (evaluation.weighted_kappa): order priority (1-URGENT … 5-LOW, the
    digit prefix is the ordinal) vs a literal five-bucket total-price
    grade — does spend track urgency beyond chance, with near-misses
    priced quadratically cheaper than grade-4 disagreements?"""
    o = load(spark, sf, "orders").filter(
        # mirror the oracle's NULL exclusion: the when-chain would
        # otherwise send a NULL price to .otherwise(5) (latent today -
        # the testdata has no NULL prices - but a real divergence)
        F.col("o_orderpriority").isNotNull()
        & F.col("o_totalprice").isNotNull()
    )
    a = F.substring("o_orderpriority", 1, 1).cast("long")
    b = (
        F.when(F.col("o_totalprice") < 60000, 1)
        .when(F.col("o_totalprice") < 120000, 2)
        .when(F.col("o_totalprice") < 180000, 3)
        .when(F.col("o_totalprice") < 240000, 4)
        .otherwise(5)
    )
    lab = o.select(a.alias("prio"), b.alias("bucket"))
    return evaluation.weighted_kappa(lab, "prio", "bucket")


WEIGHTED_KAPPA_SQL = """
WITH lab AS (
  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS a,
         CASE WHEN o_totalprice < 60000 THEN 1
              WHEN o_totalprice < 120000 THEN 2
              WHEN o_totalprice < 180000 THEN 3
              WHEN o_totalprice < 240000 THEN 4
              ELSE 5 END AS b
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
),
cont AS (SELECT a, b, COUNT(*) AS c FROM lab GROUP BY a, b),
num AS (
  SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n,
         CAST(COALESCE(SUM((a - b) * (a - b) * c), 0) AS BIGINT) AS wx
  FROM cont
),
kcl AS (
  SELECT CAST(COUNT(*) AS INTEGER) AS n_classes
  FROM (SELECT a AS x FROM cont UNION SELECT b FROM cont)
),
marg AS (
  SELECT CAST(COALESCE(SUM(
           (r.a - cl.b) * (r.a - cl.b) * r.ra * cl.cb), 0) AS BIGINT) AS we
  FROM (SELECT a, SUM(c) AS ra FROM cont GROUP BY a) r
  CROSS JOIN (SELECT b, SUM(c) AS cb FROM cont GROUP BY b) cl
)
SELECT n, n_classes,
  CASE WHEN n > 0
       THEN ROUND(CAST(wx AS DOUBLE) / CAST(n AS DOUBLE), 9)
  END AS obs_weight,
  CASE WHEN n > 0
       THEN ROUND(CAST(we AS DOUBLE) / CAST(n * n AS DOUBLE), 9)
  END AS exp_weight,
  CASE WHEN we != 0
       THEN ROUND(1.0 - CAST(n * wx AS DOUBLE) / CAST(we AS DOUBLE), 9)
  END AS kappa
FROM num, kcl, marg
"""




def graph_knn_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the corpus kNN graph
    (graph.triangle_count over similarity.knn_graph_lsh edges):
    transitivity of the neighbor graph is the standard first diagnostic
    of embedding-space structure — clustered corpora close their
    wedges, uniform noise doesn't. Degree-ordered orientation counts
    each triangle exactly once and bounds wedge generation by O(m^1.5)
    — the formulation that survives hub nodes at web scale."""
    from icnarc_to_philips_linkage_spark.operators import graph

    emb = load(spark, sf, "embeddings")
    g = similarity.knn_graph_lsh(emb, k=5, n_planes=N_PLANES, dim=DIM)
    return graph.triangle_count(
        g.select(
            F.col("node_id").alias("src"),
            F.col("neighbor_id").alias("dst"),
        )
    )


def _knn_triangles_sql() -> str:
    pairs = _knn_graph_sql().strip()
    return f"""
WITH knn AS (
{pairs}
),
und AS (
  SELECT DISTINCT
    LEAST(CAST(node_id AS VARCHAR), CAST(neighbor_id AS VARCHAR)) AS u,
    GREATEST(CAST(node_id AS VARCHAR), CAST(neighbor_id AS VARCHAR)) AS v
  FROM knn WHERE node_id != neighbor_id
),
deg AS (
  SELECT n, COUNT(*) AS d
  FROM (SELECT u AS n FROM und UNION ALL SELECT v FROM und)
  GROUP BY n
),
e AS (
  SELECT und.u, und.v, du.d AS du, dv.d AS dv
  FROM und JOIN deg du ON du.n = und.u JOIN deg dv ON dv.n = und.v
),
oriented AS (
  SELECT CASE WHEN (du, u) < (dv, v) THEN u ELSE v END AS s,
         CASE WHEN (du, u) < (dv, v) THEN v ELSE u END AS t,
         CASE WHEN (du, u) < (dv, v) THEN dv ELSE du END AS dt
  FROM e
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (SELECT o1.t AS b, o2.t AS c
        FROM oriented o1 JOIN oriented o2 ON o1.s = o2.s
        WHERE (o1.dt, o1.t) < (o2.dt, o2.t)) w
  JOIN oriented o3 ON o3.s = w.b AND o3.t = w.c
),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und),
dd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(COALESCE(SUM((d * (d - 1)) // 2), 0) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       CASE WHEN n_wedges > 0
            THEN ROUND(3.0 * n_triangles / n_wedges, 6)
       END AS transitivity
FROM st, dd, tri
"""




_KCENTER_K = 6


def sim_kcenter_coreset(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy k-center coreset over the embedding table
    (similarity.kcenter_coreset): the diversity-maximizing 6-point
    subset, each round picking the vector farthest from its nearest
    selected center — the labeling-budget / coreset selection step of
    a curation pipeline, and a 2-approximation of the optimal covering
    radius. The oracle replays the full greedy trajectory as unrolled
    materialized CTEs (the MMR/BPE recipe), so the sequential
    data-dependent selection itself is differentially checked."""
    return similarity.kcenter_coreset(
        load(spark, sf, "embeddings"), k=_KCENTER_K
    )


def _kcenter_sql() -> str:
    def nsq(v: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({v}[i] AS DOUBLE) * CAST({v}[i] AS DOUBLE)))"
        )

    def dotp(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, {DIM}), "
            f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        )

    parts = [f"""
WITH bn AS (
  SELECT vec_id AS id, embedding AS v, {nsq('embedding')} AS nsq
  FROM embeddings
),
sel1 AS (SELECT id, v, nsq FROM bn ORDER BY id LIMIT 1),
d1 AS (
  SELECT b.id, b.v, b.nsq,
         ROUND(b.nsq + s.nsq - 2.0 * {dotp('b.v', 's.v')}, 6) AS mind
  FROM bn b, sel1 s
)"""]
    for r in range(2, _KCENTER_K + 1):
        prev_sels = " UNION ALL ".join(
            f"SELECT id FROM sel{i}" for i in range(1, r)
        )
        parts.append(f""",
sel{r} AS (
  SELECT id, v, nsq, mind FROM d{r - 1}
  WHERE id NOT IN ({prev_sels})
  ORDER BY mind DESC, id ASC LIMIT 1
)""")
        if r < _KCENTER_K:
            parts.append(f""",
d{r} AS (
  SELECT d.id, d.v, d.nsq,
         LEAST(d.mind,
               ROUND(d.nsq + s.nsq - 2.0 * {dotp('d.v', 's.v')}, 6)) AS mind
  FROM d{r - 1} d, sel{r} s
)""")
    finals = ["SELECT 1 AS round, id AS vec_id, "
              "CAST(NULL AS DOUBLE) AS dist_at_selection FROM sel1"]
    finals += [
        f"SELECT {r}, id, mind FROM sel{r}"
        for r in range(2, _KCENTER_K + 1)
    ]
    parts.append("\n" + "\nUNION ALL\n".join(finals))
    return "".join(parts)




def eval_brier_score(spark: SparkSession, sf: str) -> DataFrame:
    """Exact Brier score of the quality classifier against the
    long-document label (evaluation.brier_score) — the proper scoring
    rule summarizing calibration + discrimination; micro-unit integer
    squared errors, decimal accumulation, no float sum order."""
    return evaluation.brier_score(
        _scored_with_label(spark, sf), "p_quality", "label"
    )


def _brier_sql() -> str:
    return f"""
WITH {_eval_labeled_cte()},
u AS (
  SELECT CAST(ROUND(p * 1000000) AS BIGINT)
           - CASE WHEN y THEN 1000000 ELSE 0 END AS e,
         y
  FROM lab
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COALESCE(SUM(CASE WHEN y THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_pos,
       CASE WHEN COUNT(*) > 0
            THEN ROUND(CAST(SUM(e * e) AS DOUBLE)
                       / (CAST(COUNT(*) AS DOUBLE) * 1e12), 9)
       END AS brier
FROM u
"""


def eval_hosmer_lemeshow(spark: SparkSession, sf: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit chi-square of the quality
    classifier against the long-document label
    (evaluation.hosmer_lemeshow): observed vs expected event counts
    per fixed-width probability bin, expected counts accumulated as
    exact micro-unit longs — the scalar confirmation of what
    eval_calibration's reliability diagram shows per bin."""
    return evaluation.hosmer_lemeshow(
        _scored_with_label(spark, sf), "p_quality", "label", bins=10
    )


def _hosmer_lemeshow_sql() -> str:
    term = (
        "(x.o1 - x.e1) * (x.o1 - x.e1) / x.e1"
        " + ((x.n - x.o1) - (x.n - x.e1))"
        " * ((x.n - x.o1) - (x.n - x.e1)) / (x.n - x.e1)"
    )
    return f"""
WITH {_eval_labeled_cte()},
per AS (
  SELECT LEAST(9, CAST(FLOOR(p * 10) AS INT)) AS bin,
         COUNT(*) AS n,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS o1,
         SUM(CAST(ROUND(p * 1000000) AS HUGEINT)) AS e1u
  FROM lab GROUP BY 1
),
agg AS (
  SELECT SUM(n) AS n,
         list(struct_pack(bin := bin, n := CAST(n AS DOUBLE),
                          o1 := CAST(o1 AS DOUBLE),
                          e1 := CAST(e1u AS DOUBLE) / 1000000.0)
              ORDER BY bin) AS arr
  FROM per
),
flt AS (
  SELECT n,
         list_filter(arr, x -> x.e1 > 0 AND (x.n - x.e1) > 0) AS ok
  FROM agg
)
SELECT CAST(n AS BIGINT) AS n,
  CAST(len(ok) AS BIGINT) AS n_bins_used,
  CASE WHEN len(ok) > 0 THEN
    ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(ok, x -> {term})), (a, x) -> a + x), 6)
  END AS hl_chi2
FROM flt
"""


def eval_brier_decomp(spark: SparkSession, sf: str) -> DataFrame:
    """Murphy decomposition of the quality classifier's Brier score
    (evaluation.brier_decomposition): reliability - resolution +
    uncertainty on the 10-bin calibration grid, with the exact
    unbinned Brier riding the SAME one-pass aggregation — splits a
    bad eval_brier_score into miscalibration vs missing
    discrimination."""
    return evaluation.brier_decomposition(
        _scored_with_label(spark, sf), "p_quality", "label", bins=10
    )


def _brier_decomp_sql() -> str:
    rel_t = (
        "x.n * (x.ps / x.n - x.o1 / x.n)"
        " * (x.ps / x.n - x.o1 / x.n) / nd"
    )
    res_t = (
        "x.n * (x.o1 / x.n - obar)"
        " * (x.o1 / x.n - obar) / nd"
    )
    fold = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
        " list_transform(arr, x -> {t})), (a, x) -> a + x)"
    )
    return f"""
WITH {_eval_labeled_cte()},
per AS (
  SELECT LEAST(9, CAST(FLOOR(p * 10) AS INT)) AS bin,
         COUNT(*) AS n,
         SUM(CASE WHEN y THEN 1 ELSE 0 END) AS o1,
         SUM(CAST(ROUND(p * 1000000) AS HUGEINT)) AS pu,
         SUM(CAST(CAST(ROUND(p * 1000000) AS HUGEINT)
               - CASE WHEN y THEN 1000000 ELSE 0 END AS HUGEINT)
             * (CAST(ROUND(p * 1000000) AS HUGEINT)
               - CASE WHEN y THEN 1000000 ELSE 0 END)) AS se
  FROM lab GROUP BY 1
),
agg AS (
  SELECT SUM(n) AS nt, SUM(o1) AS o1t, SUM(se) AS sett,
         list(struct_pack(bin := bin, n := CAST(n AS DOUBLE),
                          o1 := CAST(o1 AS DOUBLE),
                          ps := CAST(pu AS DOUBLE) / 1000000.0)
              ORDER BY bin) AS arr
  FROM per
),
st AS (
  SELECT *, CAST(nt AS DOUBLE) AS nd,
         CAST(o1t AS DOUBLE) / CAST(nt AS DOUBLE) AS obar
  FROM agg
)
SELECT CAST(nt AS BIGINT) AS n, CAST(o1t AS BIGINT) AS n_pos,
  CASE WHEN nt > 0 THEN
    ROUND(CAST(sett AS DOUBLE) / (nd * 1e12), 9) END AS brier,
  CASE WHEN nt > 0 THEN
    ROUND({fold.format(t=rel_t)}, 9) END AS reliability,
  CASE WHEN nt > 0 THEN
    ROUND({fold.format(t=res_t)}, 9) END AS resolution,
  CASE WHEN nt > 0 THEN
    ROUND(obar * (1.0 - obar), 9) END AS uncertainty
FROM st
"""


def drift_js_divergence(spark: SparkSession, sf: str) -> DataFrame:
    """Jensen-Shannon divergence between the existing corpus (src0-9)
    and the incoming batch (src10+) over document length
    (drift.js_divergence) — the smoothing-free information-distance
    member of the drift family (PSI needs an eps; JSD's empty-bucket
    terms are defined zeros, and sqrt(JSD) is a metric). Same
    single-scan tagged shape and bucket grid as drift_psi."""
    from icnarc_to_philips_linkage_spark.operators import drift

    d = load(spark, sf, "documents")
    batch_no = F.substring("source", 4, 10).cast("int")
    return drift.js_divergence(
        d, batch_no < 10, "n_chars",
        lo=_PSI_LO, hi=_PSI_HI, bins=_PSI_BINS,
    )


def _js_divergence_sql() -> str:
    width = (_PSI_HI - _PSI_LO) / _PSI_BINS
    term = (
        "(CASE WHEN x.r > 0 THEN 0.5 * (x.r / tr)"
        " * ln((x.r / tr) / ((x.r / tr + x.c / tc) / 2.0))"
        " ELSE 0.0 END)"
        " + (CASE WHEN x.c > 0 THEN 0.5 * (x.c / tc)"
        " * ln((x.c / tc) / ((x.r / tr + x.c / tc) / 2.0))"
        " ELSE 0.0 END)"
    )
    return f"""
WITH tagged AS (
  SELECT LEAST({_PSI_BINS - 1}, GREATEST(0,
           CAST(FLOOR((CAST(n_chars AS DOUBLE) - {_PSI_LO}) / {width})
                AS BIGINT))) AS bucket,
         CASE WHEN TRY_CAST(SUBSTR(source, 4) AS INT) IS NULL THEN NULL
              WHEN TRY_CAST(SUBSTR(source, 4) AS INT) < 10 THEN 1
              ELSE 0 END AS is_ref
  FROM documents
),
counts AS (
  SELECT bucket,
         COUNT(*) FILTER (is_ref = 1) AS n_ref,
         COUNT(*) FILTER (is_ref = 0) AS n_cur
  FROM tagged WHERE bucket IS NOT NULL AND is_ref IS NOT NULL
  GROUP BY 1
),
agg AS (
  SELECT SUM(n_ref) AS n_ref, SUM(n_cur) AS n_cur,
         list(struct_pack(b := bucket, r := CAST(n_ref AS DOUBLE),
                          c := CAST(n_cur AS DOUBLE))
              ORDER BY bucket) AS arr
  FROM counts
),
st AS (
  SELECT *, CAST(n_ref AS DOUBLE) AS tr, CAST(n_cur AS DOUBLE) AS tc
  FROM agg
),
fin AS (
  SELECT n_ref, n_cur,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(arr, x -> {term})), (a, x) -> a + x) AS jsd
  FROM st
)
SELECT CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
  CASE WHEN n_ref > 0 AND n_cur > 0 THEN ROUND(jsd, 6)
  END AS js_divergence,
  CASE WHEN n_ref > 0 AND n_cur > 0
       THEN ROUND(SQRT(GREATEST(jsd, 0.0)), 6)
  END AS js_distance
FROM fin
"""


def drift_hellinger(spark: SparkSession, sf: str) -> DataFrame:
    """Hellinger distance between the existing corpus (src0-9) and
    the incoming batch (src10+) over document length
    (drift.hellinger_distance) — the transcendental-free bounded
    metric member of the drift family: sqrt is IEEE exactly-rounded,
    so the value is engine-exact at 9dp. Same single-scan tagged
    shape and bucket grid as drift_psi / drift_js_divergence."""
    from icnarc_to_philips_linkage_spark.operators import drift

    d = load(spark, sf, "documents")
    batch_no = F.substring("source", 4, 10).cast("int")
    return drift.hellinger_distance(
        d, batch_no < 10, "n_chars",
        lo=_PSI_LO, hi=_PSI_HI, bins=_PSI_BINS,
    )


def _hellinger_sql() -> str:
    width = (_PSI_HI - _PSI_LO) / _PSI_BINS
    return f"""
WITH tagged AS (
  SELECT LEAST({_PSI_BINS - 1}, GREATEST(0,
           CAST(FLOOR((CAST(n_chars AS DOUBLE) - {_PSI_LO}) / {width})
                AS BIGINT))) AS bucket,
         CASE WHEN TRY_CAST(SUBSTR(source, 4) AS INT) IS NULL THEN NULL
              WHEN TRY_CAST(SUBSTR(source, 4) AS INT) < 10 THEN 1
              ELSE 0 END AS is_ref
  FROM documents
),
counts AS (
  SELECT bucket,
         COUNT(*) FILTER (is_ref = 1) AS n_ref,
         COUNT(*) FILTER (is_ref = 0) AS n_cur
  FROM tagged WHERE bucket IS NOT NULL AND is_ref IS NOT NULL
  GROUP BY 1
),
agg AS (
  SELECT SUM(n_ref) AS n_ref, SUM(n_cur) AS n_cur,
         list(struct_pack(b := bucket, r := CAST(n_ref AS DOUBLE),
                          c := CAST(n_cur AS DOUBLE))
              ORDER BY bucket) AS arr
  FROM counts
),
st AS (
  SELECT *, CAST(n_ref AS DOUBLE) AS tr, CAST(n_cur AS DOUBLE) AS tc
  FROM agg
),
fin AS (
  SELECT n_ref, n_cur,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(arr, x -> sqrt((x.r / tr) * (x.c / tc)))),
      (a, x) -> a + x) AS bc
  FROM st
)
SELECT CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
  CASE WHEN n_ref > 0 AND n_cur > 0 THEN ROUND(bc, 9)
  END AS bhattacharyya,
  CASE WHEN n_ref > 0 AND n_cur > 0
       THEN ROUND(SQRT(GREATEST(1.0 - bc, 0.0)), 9)
  END AS hellinger
FROM fin
"""


def text_zipf_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf rank-frequency OLS over the corpus term dictionary
    (text.zipf_slope): slope of ln(freq) on ln(rank) — natural text
    sits near -1; the distributional-shape companion to
    text_vocab_richness. Ranks ride scale.global_rank (range
    exchange); the four OLS sums quantize per term to the 1e-6 grid
    (order-free exact decimals)."""
    return text.zipf_slope(load(spark, sf, "documents"))


def _zipf_slope_sql() -> str:
    q = "CAST(FLOOR({x} * 1000000.0 + 0.5) AS HUGEINT)"
    lx = "ln(CAST(rank AS DOUBLE))"
    ly = "ln(CAST(freq AS DOUBLE))"
    return f"""
WITH per_term AS (
  SELECT term, COUNT(*) AS freq
  FROM (SELECT unnest({_TOKS}) AS term FROM documents)
  WHERE term <> ''
  GROUP BY term
),
ranked AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rank
  FROM per_term
),
sums AS (
  SELECT COUNT(*) AS v, SUM(freq) AS n_tokens,
         SUM({q.format(x=lx)}) AS qsx,
         SUM({q.format(x=ly)}) AS qsy,
         SUM({q.format(x=f"({lx} * {ly})")}) AS qsxy,
         SUM({q.format(x=f"({lx} * {lx})")}) AS qsxx,
         SUM({q.format(x=f"({ly} * {ly})")}) AS qsyy
  FROM ranked
),
st AS (
  SELECT v, n_tokens,
         CAST(v AS DOUBLE) AS vd,
         CAST(qsx AS DOUBLE) / 1e6 AS sx,
         CAST(qsy AS DOUBLE) / 1e6 AS sy,
         CAST(qsxy AS DOUBLE) / 1e6 AS sxy,
         CAST(qsxx AS DOUBLE) / 1e6 AS sxx,
         CAST(qsyy AS DOUBLE) / 1e6 AS syy
  FROM sums
),
fit AS (
  SELECT *,
         (sxy - sx * sy / vd) AS cov,
         (sxx - sx * sx / vd) AS varx,
         (syy - sy * sy / vd) AS vary
  FROM st
)
SELECT CAST(v AS BIGINT) AS vocab_size,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CASE WHEN v >= 2 AND varx > 0
       THEN ROUND(cov / varx, 4) END AS slope,
  CASE WHEN v >= 2 AND varx > 0
       THEN ROUND((sy - (cov / varx) * sx) / vd, 4) END AS intercept,
  CASE WHEN v >= 2 AND varx > 0 AND vary > 0
       THEN ROUND(cov * cov / (varx * vary), 4) END AS r2
FROM fit
"""


def eval_gwet_ac1(spark: SparkSession, sf: str) -> DataFrame:
    """Gwet's AC1 between the gold lang column and the marker-word
    language-ID prediction (evaluation.gwet_ac1) — the
    paradox-resistant agreement coefficient next to
    eval_cohens_kappa: kappa collapses under skewed class prevalence
    even at high observed agreement; AC1 does not. Same single-scan
    projection and K-bounded marginal algebra. Spread scan: the
    marker-word labeling is heavy per-row CPU on a single-row-group
    file (the eval_fleiss_kappa lesson; no-op at real scale)."""
    pred = text.with_lang_id(spread(load(spark, sf, "documents"), "doc_id"))
    return evaluation.gwet_ac1(pred, "lang", "lang_pred")


def _gwet_ac1_sql() -> str:
    pred_sql = _lang_id_sql().strip()
    return f"""
WITH pred AS (
{pred_sql}
),
lab AS (
  SELECT d.lang AS r1, p.lang_pred AS r2
  FROM documents d JOIN pred p USING (doc_id)
  WHERE d.lang IS NOT NULL AND p.lang_pred IS NOT NULL
),
m1 AS (SELECT r1 AS k, COUNT(*) AS c1 FROM lab GROUP BY 1),
m2 AS (SELECT r2 AS k, COUNT(*) AS c2 FROM lab GROUP BY 1),
marg AS (
  SELECT COALESCE(m1.k, m2.k) AS k,
         COALESCE(c1, 0) + COALESCE(c2, 0) AS m
  FROM m1 FULL JOIN m2 ON m1.k = m2.k
),
tot AS (
  SELECT COUNT(*) AS n,
         SUM(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS agree
  FROM lab
),
agg AS (
  SELECT COUNT(*) AS kk,
         list(struct_pack(k := k, m := CAST(m AS DOUBLE))
              ORDER BY k) AS arr
  FROM marg
),
st AS (
  SELECT kk, arr, n, agree, CAST(n AS DOUBLE) AS nd FROM agg, tot
),
fin AS (
  SELECT kk, n, agree, nd,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(arr, x ->
        (x.m / (2.0 * nd)) * (1.0 - x.m / (2.0 * nd)))),
      (a, x) -> a + x) / (CAST(kk AS DOUBLE) - 1.0) AS pe
  FROM st
)
SELECT CAST(n AS BIGINT) AS n, CAST(kk AS BIGINT) AS n_categories,
  CASE WHEN n > 0 THEN
    ROUND(CAST(agree AS DOUBLE) / nd, 9) END AS p_agree,
  CASE WHEN kk >= 2 AND n > 0 THEN ROUND(pe, 9) END AS p_chance,
  CASE WHEN kk >= 2 AND n > 0 AND pe < 1.0 THEN
    ROUND((CAST(agree AS DOUBLE) / nd - pe) / (1.0 - pe), 9)
  END AS ac1
FROM fin
"""


_QL_MU, _QL_TOPK = 2000.0, 20


def retrieval_ql_dirichlet(spark: SparkSession, sf: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval
    (retrieval.ql_search) for the shared BM25 query bag — the
    language-model ranking next to text_bm25_topk: absent terms
    contribute the collection prior, so every document scores
    (hit-less ones too). Two scans, one broadcast 1-row stats
    aggregate, zero wide shuffles."""
    from icnarc_to_philips_linkage_spark.operators import retrieval

    return retrieval.ql_search(
        load(spark, sf, "documents"),
        _BM25_TERMS,
        mu=_QL_MU,
        top_k=_QL_TOPK,
    )


def _ql_sql() -> str:
    mu = _QL_MU
    terms_vals = ", ".join(f"('{t}')" for t in _BM25_TERMS)
    terms_in = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT SUM(CAST(dl AS BIGINT)) AS total_tokens FROM dl),
posting AS (SELECT doc_id, unnest(t) AS term FROM toks),
qterms AS (SELECT * FROM (VALUES {terms_vals}) AS q(term)),
cf AS (
  SELECT q.term, COUNT(p.term) AS cf
  FROM qterms q LEFT JOIN posting p ON p.term = q.term
  GROUP BY q.term
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM posting
  WHERE term IN ({terms_in}) GROUP BY 1, 2
),
w AS (
  SELECT dl.doc_id,
    CASE WHEN cf.cf > 0 THEN
      ROUND(ln((CAST(COALESCE(tf.tf, 0) AS DOUBLE)
                + {mu!r} * (CAST(cf.cf AS DOUBLE)
                            / CAST(s.total_tokens AS DOUBLE)))
               / (CAST(dl.dl AS DOUBLE) + {mu!r})), 6)
    ELSE 0.0 END AS w,
    CASE WHEN COALESCE(tf.tf, 0) > 0 THEN 1 ELSE 0 END AS hit
  FROM dl CROSS JOIN cf
  LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.term = cf.term
  CROSS JOIN stats s
)
SELECT doc_id, ROUND(SUM(w), 6) AS score,
  CAST(SUM(hit) AS BIGINT) AS n_hits
FROM w GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {_QL_TOPK}
"""


def text_distinct_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct-1/2/3 n-gram diversity per source
    (text.distinct_ngram_diversity) — the mode-collapse /
    template-flood detector: boilerplate repeats n-grams, so its
    distinct ratios crater long before exact dedup fires. One
    vocabulary-grain aggregation per n."""
    return text.distinct_ngram_diversity(
        load(spark, sf, "documents"), "source"
    )


def _distinct_ngrams_sql() -> str:
    def cte(n: int) -> str:
        if n == 1:
            gram = "t[i]"
        else:
            gram = f"array_to_string(t[i:i + {n - 1}], ' ')"
        return f"""g{n} AS (
  SELECT source AS g, {n} AS n, {gram} AS gram
  FROM toks, UNNEST(generate_series(1, len(t) - {n - 1})) AS u(i)
  WHERE len(t) >= {n}
),
a{n} AS (
  SELECT g, n, COUNT(*) AS total_ngrams,
         COUNT(DISTINCT gram) AS distinct_ngrams
  FROM g{n} GROUP BY 1, 2
)"""

    return f"""
WITH toks AS (
  SELECT source, {_TOKS} AS t FROM documents
  WHERE len({_TOKS}) > 0
),
{cte(1)},
{cte(2)},
{cte(3)},
u AS (
  SELECT * FROM a1 UNION ALL SELECT * FROM a2
  UNION ALL SELECT * FROM a3
)
SELECT g AS source, CAST(n AS BIGINT) AS n,
  CAST(total_ngrams AS BIGINT) AS total_ngrams,
  CAST(distinct_ngrams AS BIGINT) AS distinct_ngrams,
  ROUND(CAST(distinct_ngrams AS DOUBLE)
        / CAST(total_ngrams AS DOUBLE), 6) AS distinct_ratio
FROM u
"""


_DNG_EPS = 0.06  # 3x the rsd=0.02 HLL++ standard error — the a8c
# discipline: deterministic-in-practice boolean over a randomized
# sketch; tightness additionally pinned by tests/test_round12_ops.py


def text_distinct_ngrams_approx(spark: SparkSession, sf: str) -> DataFrame:
    """`text_distinct_ngrams` at scale
    (text.distinct_ngram_diversity_approx): HLL++ over xxhash64(gram)
    replaces the exact vocabulary-grain groupBy — map-combined
    sketches, ZERO vocabulary-grain shuffles. The estimate is
    RANDOMIZED, so (a8c pattern) the hash-matchable output is the
    exact values plus ``within_bound``: the estimate's observed
    relative error checked against 3× its rsd ON the Spark side; the
    DuckDB oracle contributes the deterministic exact counts and
    emits TRUE."""
    d = load(spark, sf, "documents")
    ex = text.distinct_ngram_diversity(d, "source")
    ap = text.distinct_ngram_diversity_approx(d, "source")
    return ex.join(
        ap.select("source", "n", "distinct_ngrams_approx"),
        ["source", "n"],
    ).select(
        "source",
        "n",
        "total_ngrams",
        "distinct_ngrams",
        (
            F.abs(
                F.col("distinct_ngrams_approx").cast("double")
                - F.col("distinct_ngrams").cast("double")
            )
            / F.col("distinct_ngrams").cast("double")
            <= F.lit(_DNG_EPS)
        ).alias("within_bound"),
    )


def _distinct_ngrams_approx_sql() -> str:
    # same exact CTE chain as text_distinct_ngrams; the boolean is
    # unconditionally TRUE — the Spark side verifies the sketch
    # against the exact count, DuckDB pins the exact values
    base = _distinct_ngrams_sql()
    head, _, _ = base.rpartition("ROUND(")
    return (
        head.rstrip().rstrip(",")
        + ",\n  TRUE AS within_bound\nFROM u\n"
    )


def text_heaps_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit across sources
    (text.heaps_law_fit): OLS of ln(V) on ln(N) over the per-source
    (tokens, types) points — β far from the natural 0.4-0.6 band
    flags template or near-random vocabularies. The growth-curve
    companion to text_zipf_slope."""
    return text.heaps_law_fit(load(spark, sf, "documents"), "source")


def _heaps_fit_sql() -> str:
    q = "CAST(FLOOR({x} * 1000000.0 + 0.5) AS HUGEINT)"
    lx = "ln(CAST(nn AS DOUBLE))"
    ly = "ln(CAST(vv AS DOUBLE))"
    return f"""
WITH per_g AS (
  SELECT source AS g, SUM(c) AS nn, COUNT(*) AS vv
  FROM (
    SELECT source, term, COUNT(*) AS c
    FROM (SELECT source, unnest({_TOKS}) AS term FROM documents)
    WHERE term <> ''
    GROUP BY source, term
  ) GROUP BY 1
),
sums AS (
  SELECT COUNT(*) AS m,
         SUM({q.format(x=lx)}) AS qsx,
         SUM({q.format(x=ly)}) AS qsy,
         SUM({q.format(x=f"({lx} * {ly})")}) AS qsxy,
         SUM({q.format(x=f"({lx} * {lx})")}) AS qsxx,
         SUM({q.format(x=f"({ly} * {ly})")}) AS qsyy
  FROM per_g
),
st AS (
  SELECT m, CAST(m AS DOUBLE) AS md,
         CAST(qsx AS DOUBLE) / 1e6 AS sx,
         CAST(qsy AS DOUBLE) / 1e6 AS sy,
         CAST(qsxy AS DOUBLE) / 1e6 AS sxy,
         CAST(qsxx AS DOUBLE) / 1e6 AS sxx,
         CAST(qsyy AS DOUBLE) / 1e6 AS syy
  FROM sums
),
fit AS (
  SELECT *,
         (sxy - sx * sy / md) AS cov,
         (sxx - sx * sx / md) AS varx,
         (syy - sy * sy / md) AS vary
  FROM st
)
SELECT CAST(m AS BIGINT) AS n_groups,
  CASE WHEN m >= 2 AND varx > 0
       THEN ROUND(cov / varx, 4) END AS beta,
  CASE WHEN m >= 2 AND varx > 0
       THEN ROUND((sy - (cov / varx) * sx) / md, 4) END AS ln_k,
  CASE WHEN m >= 2 AND varx > 0 AND vary > 0
       THEN ROUND(cov * cov / (varx * vary), 4) END AS r2
FROM fit
"""


def eval_confusion_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Per-class precision/recall/F1 of the marker language-ID against
    the gold lang column (evaluation.confusion_report) — the
    class-level breakdown behind eval_cohens_kappa's scalar; both ride
    the same single scan projection — spread, for the
    eval_fleiss_kappa reason (heavy labeling CPU, one-row-group
    scan)."""
    pred = text.with_lang_id(spread(load(spark, sf, "documents"), "doc_id"))
    return evaluation.confusion_report(pred, "lang", "lang_pred")


def _confusion_sql() -> str:
    pred_sql = _lang_id_sql().strip()
    return f"""
WITH pred AS (
{pred_sql}
),
lab AS (
  SELECT d.lang AS g, p.lang_pred AS p
  FROM documents d JOIN pred p USING (doc_id)
  WHERE d.lang IS NOT NULL AND p.lang_pred IS NOT NULL
),
cont AS (SELECT g, p, COUNT(*) AS c FROM lab GROUP BY g, p),
classes AS (SELECT DISTINCT g AS cls FROM cont
            UNION SELECT DISTINCT p FROM cont),
r AS (SELECT g AS cls, SUM(c) AS n_gold FROM cont GROUP BY g),
cl AS (SELECT p AS cls, SUM(c) AS n_pred FROM cont GROUP BY p),
dg AS (SELECT g AS cls, c AS tp FROM cont WHERE g = p)
SELECT k.cls,
       CAST(COALESCE(r.n_gold, 0) AS BIGINT) AS n_gold,
       CAST(COALESCE(cl.n_pred, 0) AS BIGINT) AS n_pred,
       CAST(COALESCE(dg.tp, 0) AS BIGINT) AS tp,
       CASE WHEN COALESCE(cl.n_pred, 0) > 0
            THEN ROUND(COALESCE(dg.tp, 0) * 1.0 / cl.n_pred, 6)
       END AS precision,
       CASE WHEN COALESCE(r.n_gold, 0) > 0
            THEN ROUND(COALESCE(dg.tp, 0) * 1.0 / r.n_gold, 6)
       END AS recall,
       CASE WHEN COALESCE(r.n_gold, 0) + COALESCE(cl.n_pred, 0) > 0
            THEN ROUND(2.0 * COALESCE(dg.tp, 0)
                       / (COALESCE(r.n_gold, 0) + COALESCE(cl.n_pred, 0)), 6)
       END AS f1
FROM classes k
LEFT JOIN r ON r.cls = k.cls
LEFT JOIN cl ON cl.cls = k.cls
LEFT JOIN dg ON dg.cls = k.cls
"""


_KFOLD_K, _KFOLD_SALT = 5, "gkf"


def sample_group_kfold(spark: SparkSession, sf: str) -> DataFrame:
    """GroupKFold summary over events keyed on user_id
    (sampling.group_kfold): one row per fold with row/group counts —
    the leakage-safe CV assignment where one user's events can never
    straddle folds. The per-row assignment is a pure projection; the
    report aggregates it to a bounded k-row frame."""
    e = sampling.group_kfold(
        load(spark, sf, "events"), "user_id", k=_KFOLD_K, salt=_KFOLD_SALT
    )
    return (
        e.filter(F.col("fold").isNotNull())
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_groups"),
        )
    )


def _group_kfold_sql() -> str:
    nib = "(strpos('0123456789abcdef', substr(h, {i}, 1)) - 1)"
    hv = " + ".join(
        f"{nib.format(i=i + 1)} * {16 ** (7 - i)}" for i in range(8)
    )
    return f"""
WITH hashed AS (
  SELECT user_id,
         substr(md5('{_KFOLD_SALT}:' || CAST(user_id AS VARCHAR)), 1, 8)
           AS h
  FROM events WHERE user_id IS NOT NULL
),
assigned AS (
  SELECT user_id, CAST(({hv}) % {_KFOLD_K} AS INTEGER) + 1 AS fold
  FROM hashed
)
SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_groups
FROM assigned GROUP BY fold
"""


_HARDNEG_K = 3


def sample_hard_negatives_ann(spark: SparkSession, sf: str) -> DataFrame:
    """Hard-negative mining over the embedding table
    (similarity.hard_negatives): for each query vector, the 3 most
    cosine-similar vectors with a DIFFERENT label — the near-miss
    impostors contrastive training actually learns from."""
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    return similarity.hard_negatives(emb, q, k=_HARDNEG_K)


def _hard_negatives_sql() -> str:
    return f"""
WITH q AS (SELECT vec_id AS query_id, label AS query_label,
                  embedding AS qv
           FROM embeddings WHERE vec_id < {KNN_QUERY_LIMIT}),
pairs AS (
  SELECT q.query_id, q.query_label, c.vec_id AS neighbor_id,
         c.label AS neighbor_label,
         {_cos_sql('q.qv', 'c.embedding')} AS cos_sim
  FROM embeddings c, q
  WHERE c.vec_id != q.query_id AND c.label != q.query_label
)
SELECT query_id, query_label, neighbor_id, neighbor_label, cos_sim
FROM pairs
QUALIFY row_number() OVER (
  PARTITION BY query_id
  ORDER BY cos_sim DESC, neighbor_id ASC) <= {_HARDNEG_K}
"""


_DOREMI_ETA = 0.5


def sample_doremi_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DoReMi-style training-mixture reweighting
    (sampling.mixture_reweight_mwu): one multiplicative-weights step
    over the per-source mean document length as the loss proxy —
    longer-than-pooled sources get upweighted from their count share.
    ONE domain-keyed aggregation plus a broadcast pooled row; exact
    integer micro-unit sums end-to-end."""
    docs = load(spark, sf, "documents")
    return sampling.mixture_reweight_mwu(
        docs, "source", "n_chars", eta=_DOREMI_ETA
    )


def _doremi_sql() -> str:
    eta = _DOREMI_ETA
    return f"""
WITH base AS (
  SELECT source AS domain,
         CAST(FLOOR(ABS(CAST(n_chars AS DOUBLE)) * 1000000.0 + 0.5)
              AS HUGEINT)
           * (CASE WHEN n_chars < 0 THEN -1 ELSE 1 END) AS lq
  FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
),
per AS (
  SELECT domain, COUNT(*) AS n_rows, SUM(lq) AS sum_lq
  FROM base GROUP BY 1
),
tot AS (SELECT SUM(n_rows) AS n, SUM(sum_lq) AS sum_all FROM per),
j AS (
  SELECT domain, n_rows,
         CAST(sum_lq AS DOUBLE) / n_rows / 1000000.0 AS mean_,
         CAST(sum_all AS DOUBLE) / n / 1000000.0 AS pooled,
         CAST(n_rows AS DOUBLE) / n AS share
  FROM per, tot
),
staged AS (
  SELECT domain, n_rows,
         ROUND(mean_, 6) AS mean_loss,
         CASE WHEN pooled != 0
              THEN ROUND((mean_ - pooled) / pooled, 6)
              ELSE 0.0 END AS excess,
         ROUND(share, 6) AS base_share,
         CAST(FLOOR(GREATEST(share * (1.0 + {eta!r}
                * (CASE WHEN pooled != 0
                   THEN ROUND((mean_ - pooled) / pooled, 6)
                   ELSE 0.0 END)), 0.0)
              * 1000000000000.0 + 0.5) AS HUGEINT) AS wq
  FROM j
),
denom AS (SELECT SUM(wq) AS wsum FROM staged)
SELECT domain, n_rows, mean_loss, excess, base_share,
  CASE WHEN wsum > 0 THEN
    ROUND(CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE), 6) END AS new_weight
FROM staged, denom
"""


def eval_krippendorff_alpha(spark: SparkSession, sf: str) -> DataFrame:
    """Krippendorff's alpha among the three language labelers (gold
    ``lang``, marker-word and char-trigram predictions — the
    eval_fleiss_kappa panel) via
    evaluation.krippendorff_alpha_nominal: the generalized chance-
    corrected agreement, exact integers until one division. Spread
    scan for the same reason as eval_fleiss_kappa: the labeling
    pipelines are heavy per-row CPU on a single-row-group file."""
    labeled = text.with_lang_id_chargram(
        text.with_lang_id(spread(load(spark, sf, "documents"), "doc_id"))
    )
    return evaluation.krippendorff_alpha_nominal(
        labeled, ["lang", "lang_pred", "lang_pred_chargram"]
    )


def _krippendorff_sql() -> str:
    p1 = _lang_id_sql().strip()
    p2 = _lang_chargram_sql().strip()
    return f"""
WITH p1 AS (
{p1}
),
p2 AS (
{p2}
),
lab AS (
  SELECT d.doc_id, d.lang AS r1, a.lang_pred AS r2,
         b.lang_pred_chargram AS r3
  FROM documents d JOIN p1 a USING (doc_id) JOIN p2 b USING (doc_id)
  WHERE d.lang IS NOT NULL AND a.lang_pred IS NOT NULL
    AND b.lang_pred_chargram IS NOT NULL
),
cells AS (SELECT doc_id, unnest([r1, r2, r3]) AS cat FROM lab),
nij AS (SELECT doc_id, cat, COUNT(*) AS c FROM cells GROUP BY 1, 2),
peritem AS (
  SELECT doc_id, SUM(c * (c - 1)) AS same_pairs FROM nij GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(6 - same_pairs) AS BIGINT) AS do_pairs
  FROM peritem
),
marg AS (
  SELECT CAST(SUM(t * t) AS BIGINT) AS sum_t2,
         CAST(COUNT(*) AS INTEGER) AS n_categories
  FROM (SELECT cat, COUNT(*) AS t FROM cells GROUP BY 1)
)
SELECT n AS n_items, 3 AS m_raters, n_categories, do_pairs,
  CASE WHEN 2 * ((n * 3) * (n * 3) - sum_t2) != 0 THEN
    ROUND(1.0 - CAST(do_pairs * (n * 3 - 1) AS DOUBLE)
          / CAST(2 * ((n * 3) * (n * 3) - sum_t2) AS DOUBLE), 9)
  END AS alpha
FROM tot, marg
"""


_RA_MAX_INDEG, _RA_TOPK = 32, 20


def graph_ra_links(spark: SparkSession, sf: str) -> DataFrame:
    """Link prediction on the corpus kNN graph
    (graph.resource_allocation_links over similarity.knn_graph_lsh):
    which vector pairs are NOT current neighbors but share many
    low-degree common neighbors — the curation signal for "these
    clusters are about to merge" / candidate duplicate pairs the
    banded search missed. Integer 1/deg micro-weights, hub targets
    excluded, known edges anti-joined away."""
    from icnarc_to_philips_linkage_spark.operators import graph

    emb = load(spark, sf, "embeddings")
    edges = similarity.knn_graph_lsh(
        emb, k=5, n_planes=N_PLANES, dim=DIM
    )
    return graph.resource_allocation_links(
        edges, max_in_degree=_RA_MAX_INDEG, top_k=_RA_TOPK
    )


def _ra_links_sql() -> str:
    knn = _knn_graph_sql()
    # reuse the knn-graph chain: strip the trailing SELECT, keep CTEs
    body = knn[: knn.rindex("\nSELECT")]
    return f"""{body},
knn AS (
  SELECT node_id, neighbor_id FROM sims
  QUALIFY row_number() OVER (
    PARTITION BY node_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
),
e AS (SELECT DISTINCT node_id AS u, neighbor_id AS v FROM knn),
indeg AS (SELECT v AS t, COUNT(*) AS indeg FROM e GROUP BY 1),
ok AS (
  SELECT t, 1000000000000 // indeg AS wq FROM indeg
  WHERE indeg <= {_RA_MAX_INDEG}
),
kept AS (SELECT u, v, wq FROM e JOIN ok ON e.v = ok.t),
wedges AS (
  SELECT a.u AS node_a, b.u AS node_b, COUNT(*) AS n_common,
         SUM(CAST(a.wq AS HUGEINT)) AS score_q
  FROM kept a JOIN kept b ON a.v = b.v AND a.u < b.u
  GROUP BY 1, 2
),
adj AS (
  SELECT DISTINCT LEAST(u, v) AS node_a, GREATEST(u, v) AS node_b FROM e
)
SELECT w.node_a, w.node_b, w.n_common,
       ROUND(CAST(w.score_q AS DOUBLE) / 1000000000000.0, 6) AS ra_score
FROM wedges w LEFT JOIN adj
  ON w.node_a = adj.node_a AND w.node_b = adj.node_b
WHERE adj.node_a IS NULL
ORDER BY ra_score DESC, w.node_a, w.node_b LIMIT {_RA_TOPK}
"""


_PRF_FB_K, _PRF_EXPAND_K, _PRF_BETA, _PRF_TOPK = 10, 5, 0.5, 20


def retrieval_rocchio_prf(spark: SparkSession, sf: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval
    (retrieval.rocchio_prf_search): BM25 pass for the fixed query bag,
    expansion-term selection from the top-10 feedback docs (fb_tf ×
    idf, stopwords and query terms excluded), weighted second pass —
    original terms at 1.0, expansion at 0.5 (a power of two, so the
    reweighting is float-exact). The standard RAG recall upgrade over
    plain BM25."""
    from icnarc_to_philips_linkage_spark.operators import retrieval

    return retrieval.rocchio_prf_search(
        load(spark, sf, "documents"),
        _BM25_TERMS,
        fb_k=_PRF_FB_K,
        expand_k=_PRF_EXPAND_K,
        beta=_PRF_BETA,
        exclude_terms=tuple(sorted(STOPWORDS)),
        top_k=_PRF_TOPK,
    )


def _rocchio_sql() -> str:
    # dict.fromkeys mirrors rocchio_prf_search's duplicate-term dedupe
    terms = ", ".join(f"'{t}'" for t in dict.fromkeys(_BM25_TERMS))
    banned = ", ".join(
        f"'{t}'" for t in sorted(set(_BM25_TERMS) | set(STOPWORDS))
    )
    k1, b = _BM25_K1, _BM25_B
    idf = "ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))"
    tf_part = (
        f"(tf * ({k1} + 1.0))"
        f" / (tf + {k1} * ((1.0 - {b}) + {b} * dl.dl / s.avgdl))"
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
dl AS (SELECT doc_id, len(t) AS dl FROM toks),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
posting AS (SELECT doc_id, unnest(t) AS term FROM toks),
tfull AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM posting GROUP BY 1, 2
),
tf1 AS (SELECT * FROM tfull WHERE term IN ({terms})),
dfreq1 AS (SELECT term, COUNT(*) AS df FROM tf1 GROUP BY 1),
w1_ AS (
  SELECT tf1.doc_id, ROUND({idf} * {tf_part}, 6) AS w
  FROM tf1 JOIN dl USING (doc_id) JOIN dfreq1 d USING (term)
  CROSS JOIN stats s
),
fb AS (
  SELECT doc_id FROM (
    SELECT doc_id, ROUND(SUM(w), 6) AS score FROM w1_ GROUP BY 1
    ORDER BY score DESC, doc_id LIMIT {_PRF_FB_K})
),
fb_terms AS (
  SELECT term, SUM(tf) AS fb_tf
  FROM tfull JOIN fb USING (doc_id)
  WHERE term NOT IN ({banned})
  GROUP BY 1
),
dfreq_fb AS (
  SELECT term, COUNT(*) AS df FROM tfull
  WHERE term IN (SELECT term FROM fb_terms) GROUP BY 1
),
expansion AS (
  SELECT term, {_PRF_BETA!r} AS q_weight FROM (
    SELECT ft.term,
           ROUND(ft.fb_tf * {idf}, 6) AS w
    FROM fb_terms ft JOIN dfreq_fb d USING (term) CROSS JOIN stats s
    ORDER BY w DESC, term ASC LIMIT {_PRF_EXPAND_K})
),
weighted AS (
  SELECT term, CAST(1.0 AS DOUBLE) AS q_weight
  FROM (SELECT unnest([{terms}]) AS term)
  UNION ALL SELECT term, q_weight FROM expansion
),
q_dfreq AS (
  SELECT term, COUNT(*) AS df FROM tfull
  WHERE term IN (SELECT term FROM weighted) GROUP BY 1
),
scored AS (
  SELECT tfull.doc_id,
         wq.q_weight * ROUND({idf} * {tf_part}, 6) AS w
  FROM tfull JOIN weighted wq USING (term)
  JOIN q_dfreq d USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats s
)
SELECT doc_id,
  ROUND(CAST(SUM(CAST(ROUND(w * 2000000.0) AS BIGINT)) AS DOUBLE)
        / 2000000.0, 7) AS score,
  COUNT(*) AS n_hits
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {_PRF_TOPK}
"""


_PCA_ITERS = 4


@trained("embeddings")
def _pca_result(spark: SparkSession, sf: str):
    """Power-iteration result. Training is deterministic and two
    queries consume it (emb_pca_power, emb_anisotropy), so they share
    one run."""
    from icnarc_to_philips_linkage_spark.operators import clustering

    return clustering.power_iteration_top_pc(
        load(spark, sf, "embeddings"), dim=DIM, iters=_PCA_ITERS
    )


def emb_pca_power(spark: SparkSession, sf: str) -> DataFrame:
    """Top principal direction of the embedding second-moment matrix
    by distributed power iteration (clustering.power_iteration_top_pc)
    — the PCA primitive for anisotropy diagnosis / all-but-the-top
    embedding post-processing. iters × (one projection + one
    dim-bounded exact-integer aggregation); the direction lives as
    dim driver literals and every iteration replays bit-identically
    in the unrolled oracle (the gd_train discipline applied to an
    eigenproblem). Output: (pos, loading, eigenvalue, n_vectors)."""
    import math

    v, _z, norm2, n = _pca_result(spark, sf)
    lam = (
        math.sqrt(float(norm2)) / 1e12 / n if n and norm2 else None
    )
    rows = [(j + 1, v[j], lam, n) for j in range(DIM)]
    return spark.createDataFrame(
        rows, "pos int, loading double, eigenvalue double, n_vectors long"
    )


def _pca_chain_ctes() -> list:
    """The shared unrolled power-iteration CTE chain (base, z1/v1 …
    z{T}/v{T}) used by both the emb_pca_power and emb_anisotropy
    oracles."""
    import math

    dim, iters = DIM, _PCA_ITERS
    v0 = repr(1.0 / math.sqrt(float(dim)))

    def qz(e: str) -> str:
        return (
            f"CAST(sign({e}) * floor(abs({e}) * 1000000000000.0 + 0.5)"
            " AS HUGEINT)"
        )

    ctes = [
        f"""base AS (
  SELECT embedding AS v FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {dim})"""
    ]
    for k in range(1, iters + 1):
        if k == 1:
            y = (
                f"list_sum(list_transform(generate_series(1, {dim}),"
                f" i -> CAST(v[i] AS DOUBLE) * ({v0})))"
            )
            src = "base"
        else:
            y = (
                f"list_sum(list_transform(generate_series(1, {dim}),"
                " i -> CAST(v[i] AS DOUBLE) * (CAST(zl[i] AS DOUBLE)"
                " / SQRT(CAST(norm2 AS DOUBLE)))))"
            )
            src = f"base, v{k - 1}"
        sums = ", ".join(
            f"SUM({qz(f'(y * CAST(v[{j + 1}] AS DOUBLE))')}) AS z{j}"
            for j in range(dim)
        )
        ctes.append(
            f"z{k} AS (SELECT COUNT(*) AS n, {sums} "
            f"FROM (SELECT v, {y} AS y FROM {src}))"
        )
        zlist = ", ".join(f"z{j}" for j in range(dim))
        n2 = " + ".join(f"z{j} * z{j}" for j in range(dim))
        ctes.append(
            f"v{k} AS (SELECT [{zlist}] AS zl, ({n2}) AS norm2, n "
            f"FROM z{k})"
        )
    return ctes


def _pca_sql() -> str:
    dim, iters = DIM, _PCA_ITERS
    return (
        "WITH " + ",\n".join(_pca_chain_ctes()) + f"""
SELECT CAST(i AS INTEGER) AS pos,
  CAST(zl[i] AS DOUBLE) / SQRT(CAST(norm2 AS DOUBLE)) AS loading,
  SQRT(CAST(norm2 AS DOUBLE)) / 1000000000000.0 / n AS eigenvalue,
  n AS n_vectors
FROM v{iters}, generate_series(1, {dim}) AS t(i)
"""
    )


def emb_anisotropy(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-space anisotropy diagnostic
    (clustering.anisotropy_report over the memoized power-iteration
    direction): dominant eigenvalue, total variance budget
    (trace/n), explained-variance ratio, and mean |cos(x, v_top)| —
    the all-but-the-top (Mu & Viswanath 2018) decision input for
    whether to post-process the space before cosine retrieval. One
    corpus aggregation; the direction is dim literals."""
    from icnarc_to_philips_linkage_spark.operators import clustering

    v, _z, norm2, n = _pca_result(spark, sf)
    return clustering.anisotropy_report(
        load(spark, sf, "embeddings"), v, norm2, n, dim=DIM
    )


def _anisotropy_sql() -> str:
    dim, iters = DIM, _PCA_ITERS
    vexpr = (
        "(CAST(zl[i] AS DOUBLE) / SQRT(CAST(norm2 AS DOUBLE)))"
    )
    y = (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        f" i -> CAST(v[i] AS DOUBLE) * {vexpr}))"
    )
    nsq = (
        f"list_sum(list_transform(generate_series(1, {dim}),"
        " i -> CAST(v[i] AS DOUBLE) * CAST(v[i] AS DOUBLE)))"
    )
    q12 = (
        "CAST(sign(nsq) * floor(abs(nsq) * 1000000000000.0 + 0.5)"
        " AS HUGEINT)"
    )
    return (
        "WITH " + ",\n".join(_pca_chain_ctes()) + f""",
rows_ AS (
  SELECT {nsq} AS nsq, {y} AS y, norm2, n
  FROM base, v{iters}
),
stats AS (
  SELECT norm2, n,
         SUM({q12}) AS snsq,
         SUM(CAST(ROUND(abs(y / sqrt(nsq)) * 1000000.0) AS BIGINT))
           AS scos,
         COUNT(*) AS nn
  FROM rows_ GROUP BY norm2, n
)
SELECT nn AS n_vectors,
  ROUND(SQRT(CAST(norm2 AS DOUBLE)) / 1000000000000.0 / n, 6)
    AS eigenvalue,
  ROUND(CAST(snsq AS DOUBLE) / 1000000000000.0 / nn, 6) AS trace_mean,
  ROUND((SQRT(CAST(norm2 AS DOUBLE)) / 1000000000000.0 / n)
        / (CAST(snsq AS DOUBLE) / 1000000000000.0 / nn), 6)
    AS explained_ratio,
  ROUND(CAST(scos AS DOUBLE) / nn / 1000000.0, 6) AS mean_abs_cos_top
FROM stats
"""
    )


def retrieval_maxsim(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-vector late-interaction retrieval (similarity.maxsim_score
    — the ColBERT MaxSim operator): the query-vector slice scores each
    label group by Σ per-query-vector best match. One broadcast pair
    scan + two parameter-bounded aggregations; integer micro-unit
    score sums."""
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    c = emb.filter(F.col("vec_id") >= KNN_QUERY_LIMIT)
    return similarity.maxsim_score(q, c, group_col="label")


def _maxsim_sql() -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS qid, embedding FROM embeddings
  WHERE vec_id < {KNN_QUERY_LIMIT}
),
c AS (
  SELECT label, embedding FROM embeddings
  WHERE vec_id >= {KNN_QUERY_LIMIT}
),
pairs AS (
  SELECT c.label AS g, q.qid,
         {_cos_sql('q.embedding', 'c.embedding')} AS cs
  FROM c, q
),
best AS (
  SELECT g, qid, MAX(CAST(ROUND(cs * 1000000.0) AS BIGINT)) AS ci
  FROM pairs GROUP BY 1, 2
),
sizes AS (SELECT label AS g, COUNT(*) AS n_vectors FROM c GROUP BY 1),
sc AS (
  SELECT g, ROUND(CAST(SUM(ci) AS DOUBLE) / 1000000.0, 6) AS score
  FROM best GROUP BY g
)
SELECT g AS label, n_vectors, score FROM sc JOIN sizes USING (g)
"""


_LPA_ITERS = 3


def graph_label_propagation(spark: SparkSession, sf: str) -> DataFrame:
    """Community detection on the corpus kNN graph
    (graph.label_propagation, 3 synchronous min-tie rounds):
    community sizes after convergence-ish — the soft-clustering
    companion to connected components for corpus structure maps."""
    from icnarc_to_philips_linkage_spark.operators import graph

    emb = load(spark, sf, "embeddings")
    edges = similarity.knn_graph_lsh(
        emb, k=5, n_planes=N_PLANES, dim=DIM
    )
    labels = graph.label_propagation(edges, iters=_LPA_ITERS)
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


def _lpa_sql() -> str:
    knn = _knn_graph_sql()
    body = knn[: knn.rindex("\nSELECT")]
    ctes = [
        f"""knn AS (
  SELECT node_id, neighbor_id FROM sims
  QUALIFY row_number() OVER (
    PARTITION BY node_id ORDER BY cos_sim DESC, neighbor_id ASC) <= 5
)""",
        "e0 AS (SELECT DISTINCT node_id AS s, neighbor_id AS d FROM knn)",
        "sym AS (SELECT DISTINCT s, d FROM "
        "(SELECT s, d FROM e0 UNION ALL SELECT d AS s, s AS d FROM e0))",
        "l0 AS (SELECT DISTINCT s AS node, s AS label FROM sym)",
    ]
    for i in range(1, _LPA_ITERS + 1):
        ctes.append(
            f"m{i} AS (SELECT sym.s AS node, l{i-1}.label "
            f"FROM sym JOIN l{i-1} ON sym.d = l{i-1}.node)"
        )
        ctes.append(
            f"c{i} AS (SELECT node, label, COUNT(*) AS c FROM m{i} "
            "GROUP BY 1, 2)"
        )
        ctes.append(
            f"l{i} AS (SELECT node, label FROM c{i} QUALIFY "
            "row_number() OVER (PARTITION BY node "
            "ORDER BY c DESC, label ASC) = 1)"
        )
    return (
        f"{body},\n" + ",\n".join(ctes) + f"""
SELECT label AS community, COUNT(*) AS n_members
FROM l{_LPA_ITERS} GROUP BY 1
"""
    )


_HT_FRACTIONS, _HT_DEFAULT = {"en": 0.5}, 0.25


def sample_ht_estimate(spark: SparkSession, sf: str) -> DataFrame:
    """Horvitz-Thompson totals from the stratified deterministic
    sample (sampling.ht_total_estimate): estimate per-language
    character totals from the kept slice only and report the exact
    relative error against the true total — the honesty check for
    sampled dashboards. One scan, one stratum-bounded aggregation."""
    docs = load(spark, sf, "documents")
    return sampling.ht_total_estimate(
        docs, "lang", "n_chars", _HT_FRACTIONS,
        default_fraction=_HT_DEFAULT,
    )


def _ht_sql() -> str:
    from icnarc_to_philips_linkage_spark.operators.sampling import (
        _threshold_hex,
    )

    whens_t = " ".join(
        f"WHEN lang = '{v}' THEN '{_threshold_hex(f)}'"
        for v, f in _HT_FRACTIONS.items()
    )
    whens_p = " ".join(
        f"WHEN lang = '{v}' THEN CAST({float(f)!r} AS DOUBLE)"
        for v, f in _HT_FRACTIONS.items()
    )
    return f"""
WITH base AS (
  SELECT lang AS stratum, n_chars,
         CASE {whens_p} ELSE CAST({float(_HT_DEFAULT)!r} AS DOUBLE) END
           AS pi,
         CASE WHEN substr(md5('stratified:' || CAST(doc_id AS VARCHAR)),
                          1, 8)
              < CASE {whens_t}
                ELSE '{_threshold_hex(_HT_DEFAULT)}' END
              THEN 1 ELSE 0 END AS kept
  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL
    AND doc_id IS NOT NULL
),
per AS (
  SELECT stratum, MIN(pi) AS pi,
         COUNT(*) AS n_rows,
         CAST(SUM(kept) AS BIGINT) AS n_sampled,
         SUM(CAST(n_chars AS HUGEINT)) AS t,
         SUM(CASE WHEN kept = 1 THEN CAST(n_chars AS HUGEINT)
                  ELSE CAST(0 AS HUGEINT) END) AS s
  FROM base GROUP BY stratum
)
SELECT stratum, pi, n_rows, n_sampled,
  CAST(t AS BIGINT) AS true_total,
  CASE WHEN pi > 0
       THEN ROUND(CAST(s AS DOUBLE) / pi, 6) END AS ht_total,
  CASE WHEN pi > 0 AND CAST(t AS DOUBLE) != 0
       THEN ROUND((CAST(s AS DOUBLE) / pi - CAST(t AS DOUBLE))
                  / CAST(t AS DOUBLE), 6) END AS rel_err
FROM per
"""


_TEMP_ALPHA = 0.5


def sample_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled source sampling weights
    (sampling.temperature_mixture, α = 0.5): the mC4/XLM-R mixture
    flattening that upsamples low-resource sources — share^α via
    IEEE-exact sqrt, 1e-12 integer normalization, one domain
    aggregation."""
    return sampling.temperature_mixture(
        load(spark, sf, "documents"), "source", alpha=_TEMP_ALPHA
    )


TEMP_MIX_SQL = """
WITH per AS (
  SELECT source AS domain, COUNT(*) AS n_rows
  FROM documents WHERE source IS NOT NULL GROUP BY 1
),
tot AS (SELECT SUM(n_rows) AS n FROM per),
staged AS (
  SELECT domain, n_rows,
         CAST(n_rows AS DOUBLE) / n AS share_,
         CAST(FLOOR(SQRT(CAST(n_rows AS DOUBLE) / n)
                    * 1000000000000.0 + 0.5) AS HUGEINT) AS wq
  FROM per, tot
),
denom AS (SELECT SUM(wq) AS wsum FROM staged)
SELECT domain, n_rows, ROUND(share_, 6) AS share,
  ROUND(CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE), 6) AS weight,
  ROUND(CAST(wq AS DOUBLE) / CAST(wsum AS DOUBLE) / share_, 6)
    AS effective_epochs
FROM staged, denom
"""


_BLOOM_BITS, _BLOOM_K = 1024, 5
_BLOOM_BUILD_SRCS = tuple(f"src{i}" for i in range(5))


def sketch_bloom_fpr(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter false-positive audit
    (dedup_scale.bloom_fpr_report): build a deliberately tight
    1024-bit table-form filter over the first five sources' content
    digests, probe the remaining sources, and measure the realized
    FPR against exact membership — the sizing check before trusting
    a Bloom prefilter at corpus scale. md5 positions replay bit-for-
    bit in the oracle."""
    docs = load(spark, sf, "documents")
    d = docs.select(F.md5("text").alias("digest"), "source")
    build = d.filter(F.col("source").isin(*_BLOOM_BUILD_SRCS))
    probe = d.filter(~F.col("source").isin(*_BLOOM_BUILD_SRCS))
    from icnarc_to_philips_linkage_spark.operators import dedup_scale

    return dedup_scale.bloom_fpr_report(
        build, probe, "digest", num_bits=_BLOOM_BITS, k=_BLOOM_K
    )


def _bloom_fpr_sql() -> str:
    srcs = ", ".join(f"'{s}'" for s in _BLOOM_BUILD_SRCS)

    def hv(hexpr: str) -> str:
        return (
            "("
            + " + ".join(
                f"(strpos('0123456789abcdef', substr({hexpr}, {j + 1},"
                f" 1)) - 1) * {16 ** (7 - j)}"
                for j in range(8)
            )
            + ")"
        )

    hex8 = "substr(md5('bloom:{i}:' || v), 1, 8)"
    poss = ", ".join(
        hv(hex8.format(i=i)) + f" % {_BLOOM_BITS}"
        for i in range(_BLOOM_K)
    )
    return f"""
WITH d AS (SELECT md5(text) AS digest, source FROM documents),
bvals AS (
  SELECT DISTINCT digest AS v FROM d
  WHERE source IN ({srcs}) AND digest IS NOT NULL
),
pvals AS (
  SELECT DISTINCT digest AS v FROM d
  WHERE source NOT IN ({srcs}) AND digest IS NOT NULL
),
bits AS (
  SELECT DISTINCT bit FROM (SELECT unnest([{poss}]) AS bit FROM bvals)
),
ppos AS (SELECT v, unnest([{poss}]) AS bit FROM pvals),
hits AS (
  SELECT v FROM ppos JOIN bits USING (bit)
  GROUP BY v HAVING COUNT(*) = {_BLOOM_K}
),
audited AS (
  SELECT p.v,
         CASE WHEN h.v IS NOT NULL THEN 1 ELSE 0 END AS hit,
         CASE WHEN b.v IS NOT NULL THEN 1 ELSE 0 END AS present
  FROM pvals p LEFT JOIN hits h ON p.v = h.v
  LEFT JOIN bvals b ON p.v = b.v
),
stats AS (
  SELECT COUNT(*) AS n_probes,
         CAST(SUM(present) AS BIGINT) AS n_true_present,
         CAST(SUM(hit) AS BIGINT) AS n_hits,
         CAST(SUM(CASE WHEN hit = 1 AND present = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_false_pos,
         CASE WHEN COUNT(*) - SUM(present) > 0 THEN
           ROUND(CAST(SUM(CASE WHEN hit = 1 AND present = 0
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / (COUNT(*) - SUM(present)), 6) END AS fpr
  FROM audited
),
bc AS (SELECT COUNT(*) AS bits_set FROM bits),
nb AS (SELECT COUNT(*) AS n_build_distinct FROM bvals)
SELECT {_BLOOM_BITS} AS num_bits, {_BLOOM_K} AS n_hash,
       bits_set, n_build_distinct, n_probes, n_true_present,
       n_hits, n_false_pos, fpr
FROM stats, bc, nb
"""


_BITEXT_KNN, _BITEXT_TOPM = 4, 3


def sim_margin_bitext(spark: SparkSession, sf: str) -> DataFrame:
    """Margin-based bitext mining (similarity.margin_bitext_mine):
    the query slice (vec_id < KNN_QUERY_LIMIT) mines its best-margin
    matches from the rest of the corpus — cosine normalized by both
    sides' kNN averages (Artetxe-Schwenk ratio margin), the standard
    parallel-pair harvesting criterion."""
    emb = load(spark, sf, "embeddings")
    left = emb.filter(F.col("vec_id") < KNN_QUERY_LIMIT)
    right = emb.filter(F.col("vec_id") >= KNN_QUERY_LIMIT)
    return similarity.margin_bitext_mine(
        left, right, knn=_BITEXT_KNN, top_m=_BITEXT_TOPM
    )


def _margin_bitext_sql() -> str:
    k, m = _BITEXT_KNN, _BITEXT_TOPM
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings
  WHERE vec_id < {KNN_QUERY_LIMIT}
),
c AS (
  SELECT vec_id AS neighbor_id, embedding FROM embeddings
  WHERE vec_id >= {KNN_QUERY_LIMIT}
),
pairs AS (
  SELECT query_id, neighbor_id,
         {_cos_sql('q.embedding', 'c.embedding')} AS cos_sim
  FROM c, q
),
pairs2 AS (
  SELECT *, CAST(ROUND(cos_sim * 1000000.0) AS BIGINT) AS ci FROM pairs
),
x_top AS (
  SELECT query_id, ci FROM pairs2
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) <= {k}
),
x_nn AS (SELECT query_id, SUM(ci) AS sx, COUNT(*) AS kx
         FROM x_top GROUP BY 1),
y_top AS (
  SELECT neighbor_id, ci FROM pairs2
  QUALIFY row_number() OVER (
    PARTITION BY neighbor_id ORDER BY cos_sim DESC, query_id ASC) <= {k}
),
y_nn AS (SELECT neighbor_id, SUM(ci) AS sy, COUNT(*) AS ky
         FROM y_top GROUP BY 1),
scored AS (
  SELECT p.query_id, p.neighbor_id,
         CASE WHEN (CAST(sx AS DOUBLE) / kx + CAST(sy AS DOUBLE) / ky)
                   * 0.5 != 0
              THEN ROUND(CAST(ci AS DOUBLE)
                   / ((CAST(sx AS DOUBLE) / kx
                       + CAST(sy AS DOUBLE) / ky) * 0.5), 6)
         END AS margin
  FROM pairs2 p JOIN x_nn USING (query_id) JOIN y_nn USING (neighbor_id)
),
ranked AS (
  SELECT query_id, neighbor_id, margin FROM scored
  WHERE margin IS NOT NULL
  QUALIFY row_number() OVER (
    PARTITION BY query_id ORDER BY margin DESC, neighbor_id ASC) <= {m}
)
SELECT p.query_id, p.neighbor_id, p.cos_sim, r.margin
FROM pairs2 p JOIN ranked r USING (query_id, neighbor_id)
"""


QUERIES: dict[str, tuple] = {
    "drift_wasserstein": (drift_wasserstein, _wasserstein_sql()),
    "sample_weighted_topk": (sample_weighted_topk, _wres_sql()),
    "sample_stratified_reservoir": (
        sample_stratified_reservoir,
        _swres_sql(),
    ),
    "sample_bootstrap_means": (sample_bootstrap_means, _bootstrap_sql()),
    "sample_group_capped": (sample_group_capped, SAMPLE_GROUP_CAPPED_SQL),
    "pack_inference_batches": (pack_inference_batches, PACK_INFER_SQL),
    "retrieval_rrf_fusion": (retrieval_rrf_fusion, _rrf_sql()),
    "retrieval_ql_dirichlet": (retrieval_ql_dirichlet, _ql_sql()),
    "eval_gwet_ac1": (eval_gwet_ac1, _gwet_ac1_sql()),
    "retrieval_mmr_rerank": (retrieval_mmr_rerank, _mmr_sql()),
    "check_split_leakage": (check_split_leakage, _leakage_sql()),
    "text_tokens_to_ids": (text_tokens_to_ids, TOKENS_TO_IDS_SQL),
    "report_corpus_datasheet": (report_corpus_datasheet, DATASHEET_SQL),
    "filter_blocklist": (filter_blocklist, _blocklist_sql()),
    "sample_negatives": (sample_negatives, _negatives_sql()),
    "sim_knn_graph": (sim_knn_graph, _knn_graph_sql()),
    "src_agg_pushdown_stats": (src_agg_pushdown_stats, SRC_AGG_PUSHDOWN_SQL),
    "dedup_semantic": (dedup_semantic, _semantic_dedup_sql()),
    "quality_ngram_lm": (quality_ngram_lm, QUALITY_LM_SQL),
    "sample_dsir_weights": (sample_dsir_weights, _dsir_sql()),
    "text_bpe_merge_pairs": (text_bpe_merge_pairs, BPE_PAIRS_SQL),
    "sample_curriculum_order": (sample_curriculum_order, CURRICULUM_SQL),
    "drift_psi": (drift_psi, _psi_sql()),
    "drift_js_divergence": (drift_js_divergence, _js_divergence_sql()),
    "drift_hellinger": (drift_hellinger, _hellinger_sql()),
    "eval_hosmer_lemeshow": (
        eval_hosmer_lemeshow,
        _hosmer_lemeshow_sql(),
    ),
    "eval_brier_decomp": (eval_brier_decomp, _brier_decomp_sql()),
    "text_zipf_slope": (text_zipf_slope, _zipf_slope_sql()),
    "drift_psi_by_lang": (drift_psi_by_lang, _psi_strata_sql()),
    "text_bm25_topk": (text_bm25_topk, _bm25_sql()),
    "dedup_containment": (dedup_containment, _containment_sql()),
    "dedup_normalized": (dedup_normalized, DEDUP_NORMALIZED_SQL),
    "dedup_passages": (dedup_passages, _passages_sql()),
    "dedup_span_removal": (dedup_span_removal, _span_removal_sql()),
    "dedup_paragraphs_c4": (dedup_paragraphs_c4, _para_c4_sql()),
    "text_bpe_encode": (text_bpe_encode, _bpe_encode_sql()),
    "sample_moore_lewis": (sample_moore_lewis, MOORE_LEWIS_SQL),
    "quality_ccnet_buckets": (quality_ccnet_buckets, CCNET_BUCKETS_SQL),
    "dedup_winnow_overlap": (dedup_winnow_overlap, _winnow_sql()),
    "sim_sq8_recall": (sim_sq8_recall, _sq8_sql()),
    "dedup_containment_exact": (dedup_containment_exact, _containment_exact_sql()),
    "text_tokenizer_fertility": (text_tokenizer_fertility, _fertility_sql()),
    "sketch_theta_setops": (sketch_theta_setops, SKETCH_THETA_SQL),
    "pack_context_windows": (pack_context_windows, PACK_SQL),
    "pack_bins_ffd": (pack_bins_ffd, FFD_INVARIANT_SQL),
    "decontam_report": (decontam_report, _decontam_sql()),
    "decontam_embedding": (decontam_embedding, _emb_decontam_sql()),
    "decontam_doc_jaccard": (decontam_doc_jaccard, _doc_jaccard_rs_sql()),
    "text_bpe_train": (text_bpe_train, _bpe_train_sql()),
    "text_longest_repeats": (text_longest_repeats, TEXT_LONGEST_REPEATS_SQL),
    "pii_scrub": (pii_scrub, _pii_sql()),
    "reconcile_sources": (reconcile_sources, RECONCILE_SQL),
    "quality_gate": (quality_gate, QUALITY_GATE_SQL),
    "quality_gate_by_source": (quality_gate_by_source, QUALITY_GATE_BY_SOURCE_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_incremental": (dedup_incremental, DEDUP_INCREMENTAL_SQL),
    "text_tfidf_topterms": (text_tfidf_topterms, TFIDF_SQL),
    "text_repetition": (text_repetition, REPETITION_SQL),
    "text_corpus_stats": (text_corpus_stats, CORPUS_STATS_SQL),
    "text_vocab_richness": (text_vocab_richness, VOCAB_RICHNESS_SQL),
    "text_distinct_ngrams": (text_distinct_ngrams, _distinct_ngrams_sql()),
    "text_distinct_ngrams_approx": (
        text_distinct_ngrams_approx,
        _distinct_ngrams_approx_sql(),
    ),
    "text_heaps_fit": (text_heaps_fit, _heaps_fit_sql()),
    "text_lexical_diversity": (text_lexical_diversity, LEXICAL_DIVERSITY_SQL),
    "text_pmi_bigrams": (text_pmi_bigrams, PMI_SQL),
    "text_chunk_windows": (text_chunk_windows, CHUNK_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, _minhash_sql()),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, _ngram_jaccard_sql()),
    "dedup_jaccard_prefix_exact": (
        dedup_jaccard_prefix_exact,
        _jaccard_exact_sql(),
    ),
    "sample_split_dedup_aware": (
        sample_split_dedup_aware,
        _split_dedup_aware_sql(),
    ),
    "dedup_near_clusters": (dedup_near_clusters, _near_clusters_sql()),
    "dedup_keep_best": (dedup_keep_best, _keep_best_sql()),
    "report_source_overlap": (report_source_overlap, _source_overlap_sql()),
    "dedup_simhash": (dedup_simhash, _simhash_sql()),
    "dedup_embedding_cosine": (dedup_embedding_cosine, _near_dup_sql()),
    "sim_knn_brute_force": (sim_knn_brute_force, _knn_sql()),
    "emb_label_centroids": (emb_label_centroids, EMB_CENTROIDS_SQL),
    "emb_int8_quantize": (emb_int8_quantize, _emb_int8_sql()),
    "emb_random_projection": (emb_random_projection, _random_projection_sql()),
    "sim_ivf_topk": (sim_ivf_topk, _ivf_sql()),
    "sim_ann_rh_lsh": (sim_ann_rh_lsh, _rh_lsh_sql()),
    "sim_ann_rh_lsh_multiprobe": (sim_ann_rh_lsh_multiprobe, _rh_lsh_multiprobe_sql()),
    "cluster_kmeans": (cluster_kmeans, _kmeans_sql()),
    "sim_pq_topk": (sim_pq_topk, _pq_sql()),
    "sim_ivfpq_topk": (sim_ivfpq_topk, _ivfpq_sql()),
    "sim_pq_index_probe": (sim_pq_index_probe, _ivfpq_sql()),
    "sim_pq_index_probe2": (sim_pq_index_probe2, _ivfpq_sql(2)),
    "sim_recall_eval": (sim_recall_eval, _recall_eval_sql()),
    "sketch_hll_merge": (sketch_hll_merge, SKETCH_HLL_SQL),
    "text_quality": (text_quality, _quality_sql()),
    "quality_classifier_score": (quality_classifier_score, _qcls_sql()),
    "eval_roc_auc": (eval_roc_auc, _roc_auc_sql()),
    "eval_roc_auc_by_lang": (eval_roc_auc_by_lang, _roc_auc_by_lang_sql()),
    "eval_ks_separation": (eval_ks_separation, _ks_separation_sql()),
    "eval_ndcg_mrr": (eval_ndcg_mrr, _ndcg_mrr_sql()),
    "eval_avg_precision": (eval_avg_precision, _avg_precision_sql()),
    "eval_cohens_kappa": (eval_cohens_kappa, _kappa_sql()),
    "dedup_lsh_band_stats": (dedup_lsh_band_stats, _band_stats_sql()),
    "text_vocab_coverage": (text_vocab_coverage, _vocab_coverage_sql()),
    "quality_gopher_rules": (quality_gopher_rules, _gopher_sql()),
    "sim_matryoshka_recall": (sim_matryoshka_recall, _matryoshka_sql()),
    "eval_fleiss_kappa": (eval_fleiss_kappa, _fleiss_sql()),
    "report_dedup_savings": (report_dedup_savings, DEDUP_SAVINGS_SQL),
    "quality_gopher_funnel": (quality_gopher_funnel, _gopher_funnel_sql()),
    "eval_weighted_kappa": (eval_weighted_kappa, WEIGHTED_KAPPA_SQL),
    "graph_knn_triangles": (graph_knn_triangles, _knn_triangles_sql()),
    "sim_kcenter_coreset": (sim_kcenter_coreset, _kcenter_sql()),
    "eval_brier_score": (eval_brier_score, _brier_sql()),
    "eval_confusion_langid": (eval_confusion_langid, _confusion_sql()),
    "sample_group_kfold": (sample_group_kfold, _group_kfold_sql()),
    "sample_hard_negatives_ann": (sample_hard_negatives_ann, _hard_negatives_sql()),
    "web_url_canonicalize": (web_url_canonicalize, _web_canon_sql()),
    "web_url_dedup": (web_url_dedup, _web_dedup_sql()),
    "web_domain_profile": (web_domain_profile, _web_profile_sql()),
    "web_domain_cap": (web_domain_cap, _web_cap_sql()),
    "eval_pr_thresholds": (eval_pr_thresholds, _pr_thresholds_sql()),
    "eval_calibration_bins": (eval_calibration_bins, _calibration_sql()),
    "eval_pii_recall": (eval_pii_recall, _pii_recall_sql()),
    "scd_merge_upsert": (scd_merge_upsert, _merge_upsert_sql()),
    "curate_token_budget": (curate_token_budget, _token_budget_sql()),
    "sample_unimax_allocation": (sample_unimax_allocation, _unimax_sql()),
    "text_lang_id": (text_lang_id, _lang_id_sql()),
    "text_lang_id_chargram": (text_lang_id_chargram, _lang_chargram_sql()),
    "text_bpe_ish_tokens": (text_bpe_ish_tokens, BPE_SQL),
    "text_fingerprint": (text_fingerprint, _fingerprint_sql()),
    "ud2_pandas_udf_tokens": (ud2_pandas_udf_tokens, UD2_SQL),
    "ud3_grouped_agg_weighted_median": (ud3_grouped_agg_weighted_median, UD3_SQL),
    "sample_hash_split": (sample_hash_split, _split_sql()),
    "sample_weighted_quality": (sample_weighted_quality, WEIGHTED_SAMPLE_SQL),
    "sample_stratified_lang": (sample_stratified_lang, _stratified_sql()),
    "sample_epoch_shuffle": (sample_epoch_shuffle, EPOCH_SHUFFLE_SQL),
    "sample_mixture_balance": (sample_mixture_balance, _mixture_sql()),
    "curate_documents": (curate_documents, CURATE_SQL),
    "multimodal_meta": (multimodal_meta, MULTIMODAL_SQL),
    "multimodal_phash_pipeline": (multimodal_phash_pipeline, _phash_sql()),
    "multimodal_audio_neardup": (multimodal_audio_neardup, _audio_neardup_sql()),
    "sample_doremi_weights": (sample_doremi_weights, _doremi_sql()),
    "eval_krippendorff_alpha": (
        eval_krippendorff_alpha,
        _krippendorff_sql(),
    ),
    "graph_ra_links": (graph_ra_links, _ra_links_sql()),
    "retrieval_rocchio_prf": (retrieval_rocchio_prf, _rocchio_sql()),
    "sim_margin_bitext": (sim_margin_bitext, _margin_bitext_sql()),
    "emb_pca_power": (emb_pca_power, _pca_sql()),
    "retrieval_maxsim": (retrieval_maxsim, _maxsim_sql()),
    "graph_label_propagation": (graph_label_propagation, _lpa_sql()),
    "sample_ht_estimate": (sample_ht_estimate, _ht_sql()),
    "emb_anisotropy": (emb_anisotropy, _anisotropy_sql()),
    "sketch_bloom_fpr": (sketch_bloom_fpr, _bloom_fpr_sql()),
    "sample_temperature_mix": (sample_temperature_mix, TEMP_MIX_SQL),
}


# These two probe queries lazily BUILD the shared persisted IVF-PQ
# warehouse table named by its artifact key (_pq_index, tableExists is
# the memo) — two concurrent first builds of the same keyed table both
# miss the catalog and race the overwrite write. Everything else in
# this module is side-effect-free per call (in-memory trained artifacts
# recompute the same value idempotently).
EXCLUSIVE: frozenset[str] = frozenset(
    {"sim_pq_index_probe", "sim_pq_index_probe2"}
)
