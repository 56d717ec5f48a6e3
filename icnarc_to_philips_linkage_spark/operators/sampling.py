"""Deterministic sampling / dataset splitting for training-data
pipelines.

Random `df.sample()` is seed-dependent per partitioning and not
reproducible across engines or re-runs with different file splits. These
operators derive membership from a content hash instead: md5 of
(salt, id), compared as an 8-hex-char prefix string against a threshold
— a pure map-side predicate, no RNG, no shuffle, identical in any
engine with md5 (Spark, DuckDB, Python). Re-running on re-partitioned /
re-ordered data, or on another engine, yields the SAME split — the
property a train/test boundary must have to avoid leakage across
pipeline versions.

The salt names the split decision: different salts give independent
samples; the same salt always reproduces the same one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from icnarc_to_philips_linkage_spark.operators.scale import (
    bounded_global_partition,
    bounded_global_window,
    width,
)

_HEX_SPACE = 16**8  # the 8-hex-char prefix spans [0, 16^8)


def _threshold_hex(fraction: float) -> str:
    """8-hex threshold so that P(prefix < threshold) ≈ fraction.
    fraction ≥ 1 returns 'g' — lexicographically above every hex string
    (a 9-digit '100000000' would compare BELOW 'ffffffff' as a string)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    n = int(fraction * _HEX_SPACE)
    return "g" if n >= _HEX_SPACE else format(n, "08x")


def hash_bucket(id_col: Column | str, salt: str) -> Column:
    """The sampling key: first 8 hex chars of md5(salt || ':' || id).
    Uniform on the hex-string space; lexicographic comparison on it is
    numeric comparison."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string"))), 1, 8
    )


def hash_sample(
    df: DataFrame, id_col: str, fraction: float, salt: str = "sample"
) -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose hash bucket
    falls below the threshold. Map-only predicate — pushes into the
    scan's filter stage, costs one md5 per row, never shuffles."""
    return df.filter(hash_bucket(id_col, salt) < F.lit(_threshold_hex(fraction)))


def hash_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    salt: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Partition rows into named splits (e.g. train/val/test) by
    consecutive hash bands: {'train': .8, 'val': .1, 'test': .1} labels
    every row with exactly one split. Fractions must sum to ≤ 1; any
    remainder is labeled NULL (dropped by convention). Deterministic and
    engine-portable like ``hash_sample``."""
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    bucket = hash_bucket(id_col, salt)
    expr = None
    cum = 0.0
    for name, frac in fractions.items():
        cum += frac
        cond = bucket < F.lit(_threshold_hex(cum))
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    return df.withColumn(split_col, expr)


def stratified_hash_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "stratified",
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum value gets its
    own keep-fraction (e.g. downsample dominant languages, keep all of
    rare ones). Still a pure map-side predicate — the per-stratum
    threshold folds into a CASE chain; no shuffle, no per-group pass."""
    bucket = hash_bucket(id_col, salt)
    thr = None
    for value, frac in fractions.items():
        cond = F.col(strata_col) == value
        t = F.lit(_threshold_hex(frac))
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    thr = thr.otherwise(F.lit(_threshold_hex(default_fraction)))
    return df.filter(bucket < thr)


def weighted_hash_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    scale: float = 1.0,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weight-proportional Bernoulli sampling: each row is
    kept with probability ``min(1, scale * w / max(w))`` — quality-
    proportional document selection for training-data curation, with the
    same reproducibility contract as ``hash_sample`` (membership depends
    only on (salt, id, weight distribution), never on partitioning,
    ordering, or engine).

    The per-row probability becomes a per-row 8-hex threshold
    (``floor(p * 16^8)`` printf'd as hex — integer→hex formatting agrees
    across engines) compared against the row's hash bucket. One max()
    aggregate broadcast back is the only non-map work; p is rounded to
    6dp BEFORE the floor so the threshold integer is engine-portable.
    ``p >= 1`` rows use the above-every-hex sentinel ('g') and are
    always kept.
    """
    mx = df.agg(F.max(F.col(weight_col)).cast("double").alias("__wmax"))
    # Clamp to [0, 1]: a negative weight would make floor(p * 16^8) a
    # negative long whose 16-char two's-complement hex sorts ABOVE every
    # 8-char bucket (always kept); clamping at 0 makes negative-weight
    # rows never kept, the intended probability-0 semantics.
    # Degenerate max: if every weight is <= 0 the ratio is NULL (wmax=0)
    # or sign-inverted (wmax<0) — and least/greatest SKIP NULLs, so the
    # clamp alone would resolve to p=1 and keep everything. No row has
    # positive weight, so nothing should be sampled: pin p = 0.
    # A NULL weight makes the ratio NULL the same way (least/greatest
    # would skip it and the clamp would keep the row); coalescing the
    # weight to 0 gives NULL-weight rows probability 0 instead.
    w = F.coalesce(F.col(weight_col).cast("double"), F.lit(0.0))
    p = F.when(
        F.col("__wmax") > 0.0,
        F.round(
            F.greatest(
                F.lit(0.0),
                F.least(F.lit(1.0), F.lit(scale) * w / F.col("__wmax")),
            ),
            6,
        ),
    ).otherwise(F.lit(0.0))
    thr = F.when(p >= 1.0, F.lit("g")).otherwise(
        F.format_string(
            "%08x", F.floor(p * F.lit(float(_HEX_SPACE))).cast("long")
        )
    )
    return (
        df.crossJoin(F.broadcast(mx))
        .filter(hash_bucket(id_col, salt) < thr)
        .drop("__wmax")
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    epoch: int,
    salt: str = "epoch",
    key_col: str = "shuffle_key",
) -> DataFrame:
    """Deterministic per-epoch global shuffle order for training data:
    ``key = md5('{salt}:{epoch}:{id}')`` — a different but fully
    reproducible permutation each epoch, independent of partitioning,
    file layout, and engine (the property a training data loader needs
    to replay epoch N exactly after a restart, and the reason not to
    use ``orderBy(rand(seed))``, whose draw depends on partitioning).

    Map-only: this just attaches the key. Ordering by it is Spark's
    range-partitioned distributed sort (sampled boundaries, then
    per-partition sorts — the TeraSort shape, no single-task
    bottleneck); writers persist the order with
    ``repartitionByRange(key_col)`` + ``sortWithinPartitions``."""
    key = F.md5(
        F.concat(
            F.lit(f"{salt}:{epoch}:"), F.col(id_col).cast("string")
        )
    )
    return df.withColumn(key_col, key)


def mixture_balance(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    target_shares: dict[str, float],
    salt: str = "mixture",
) -> DataFrame:
    """Domain-mixture balancing — the pretraining-pipeline step that
    downsamples over-represented domains so the corpus matches a target
    mixture (e.g. 40% en / 20% each de-fr-es) WITHOUT upsampling: the
    output is the largest corpus every domain can supply its share of,
    ``N = min_d(count_d / share_d)``, and each domain keeps
    ``share_d * N / count_d`` of its documents.

    One eager aggregate collects the per-domain counts (bounded by the
    domain count — the k-means-centroids pattern); membership is then
    the deterministic per-stratum hash predicate (map-side, no shuffle,
    engine-portable, partition-independent). Domains absent from the
    target mixture are dropped. ``target_shares`` must sum to ~1 (no
    silent normalization: renormalizing in floats would make the
    fractions engine-order-dependent); fractions are rounded to 6dp
    before the hex threshold so both engines agree
    (``weighted_hash_sample`` precedent). The realized mixture is
    Bernoulli-approximate per domain, exact in expectation."""
    total = sum(target_shares.values())
    if abs(total - 1.0) > 1e-6:
        raise ValueError(f"target_shares must sum to 1, got {total}")
    counts = {
        r["__dom"]: r["__c"]
        for r in df.groupBy(F.col(domain_col).alias("__dom"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .collect()
    }
    missing = [
        d for d, s in target_shares.items() if s > 0 and not counts.get(d)
    ]
    if missing:
        # silently dropping an absent target domain would return a
        # corpus that CANNOT match target_shares (the formula's
        # N = min_d(count_d / share_d) is 0) while looking successful
        raise ValueError(
            f"target domains absent from the data: {sorted(missing)}; "
            f"targets {sorted(target_shares)}, present {sorted(counts)}"
        )
    avail = {d: s for d, s in target_shares.items() if s > 0}
    n_out = min(counts[d] / s for d, s in avail.items())
    fracs = {
        d: round(min(1.0, s * n_out / counts[d]), 6)
        for d, s in avail.items()
    }
    return stratified_hash_sample(
        df, id_col, domain_col, fracs, default_fraction=0.0, salt=salt
    )


def dsir_log_weights(
    df: DataFrame,
    target: Column,
    doc_id: str = "doc_id",
    text_col: str = "text",
    buckets: int = 256,
    salt: str = "dsir",
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much more likely its hashed-token features are
    under the TARGET distribution (rows where ``target`` is true — the
    trusted/in-domain slice) than under the RAW distribution (everything
    else):

        log w(x) = Σ_{tokens} [ ln p_target(bucket) − ln p_raw(bucket) ]

    with Laplace-smoothed bucket probabilities over ``buckets`` hashed
    feature buckets (md5-derived — deterministic and engine-portable,
    like every sampler here). High log_weight ⇒ looks like the target
    domain; feed it to ``weighted_hash_sample`` for the resampling step.

    Scale: two corpus passes (bucket-count build, then score), both
    ending in bounded state — the feature table is ``buckets`` rows
    regardless of corpus size, so it broadcast-joins and the corpus
    never shuffles on a data key; the per-doc agg hash-shuffles on
    doc_id once. Output: (doc_id, n_tokens, log_weight) for every row
    (empty docs: 0 tokens, NULL weight).
    """
    from icnarc_to_philips_linkage_spark.operators.text import tokens

    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), F.col("tok"))), 1, 4
            ),
            16,
            10,
        ).cast("int")
        % buckets
    )
    toked = (
        df.select(F.col(doc_id), target.alias("__tgt"),
                  F.explode(tokens(text_col)).alias("tok"))
        .filter(F.col("tok") != "")
        .withColumn("__b", bucket)
    )
    # bucket table: `buckets` rows total — persist so the totals agg and
    # the ratio projection don't each re-explode the corpus
    counts = (
        toked.groupBy("__b")
        .agg(
            F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("n_t"),
            F.count(F.lit(1)).alias("n_all"),
        )
        .withColumn("n_r", F.col("n_all") - F.col("n_t"))
        .persist()
    )
    tot = counts.agg(
        F.sum("n_t").alias("tot_t"), F.sum("n_r").alias("tot_r")
    )
    ratio = counts.crossJoin(F.broadcast(tot)).select(
        "__b",
        (
            F.log((F.col("n_t") + 1) / (F.col("tot_t") + buckets))
            - F.log((F.col("n_r") + 1) / (F.col("tot_r") + buckets))
        ).alias("__lr"),
    )
    scored = (
        toked.join(F.broadcast(ratio), "__b")
        .groupBy(doc_id)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("__lr"), 6).alias("log_weight"),
        )
    )
    return df.select(doc_id).join(scored, doc_id, "left").select(
        doc_id,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "log_weight",
    )


def negative_samples(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor row gets ``k`` pseudo-random OTHER rows as negatives, with
    the pairing fixed by content hash (same salt ⇒ same negatives on
    any engine / partitioning / re-run — the property a reproducible
    training run needs; resample by changing the salt, e.g. per epoch).

    Shape: ids get a dense 1..n index via the distributed
    ``global_rank``; negative j of an anchor is index
    md5(salt:anchor:j) mod n (bumped one slot on self-collision), and
    one equi-join on the index resolves it back to an id. Cost: the
    rank exchange plus a k-fan-out projection and one join keyed on the
    dense index — uniform by construction, no skew.

    Output: (anchor_id, j, negative_id), k rows per anchor.
    """
    from icnarc_to_philips_linkage_spark.operators.scale import global_rank

    ranked = global_rank(df.select(id_col), [id_col], rank_col="__idx")
    n = ranked.count()
    if n < 2:
        raise ValueError(f"need >= 2 rows to draw negatives, got {n}")
    anchors = ranked.select(
        F.col(id_col).alias("anchor_id"), F.col("__idx").alias("__a_idx")
    )
    fanned = anchors.select(
        "anchor_id",
        "__a_idx",
        F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("j"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(salt),
                    F.col("anchor_id").cast("string"),
                    F.col("j").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    idx = (h % n) + 1
    # self-collision bump: next slot, wrapping — never equals the anchor
    picked = F.when(idx == F.col("__a_idx"), (idx % n) + 1).otherwise(idx)
    resolved = fanned.withColumn("__n_idx", picked).join(
        ranked.select(
            F.col("__idx").alias("__n_idx"),
            F.col(id_col).alias("negative_id"),
        ),
        "__n_idx",
    )
    return resolved.select("anchor_id", "j", "negative_id")


def weighted_reservoir_topk(
    df: DataFrame,
    id_col: str,
    weight_col,
    k: int,
    salt: str = "wres",
) -> DataFrame:
    """Exact weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006): assign each row the key u^(1/w) with u a
    deterministic hash-uniform in (0,1), keep the k largest keys — the
    distribution is exactly weighted-without-replacement, and because u
    comes from md5 (not an RNG) the sample is reproducible across
    engines, partitionings, and re-runs like every sampler here.

    Contrast with ``weighted_hash_sample``: that op keeps each row
    INDEPENDENTLY with probability ∝ weight (Bernoulli, output size
    varies); this one draws an exact-k sample. One map-side projection
    + TakeOrderedAndProject — no shuffle beyond the top-k merge.

    Keys are rounded to 9dp before ranking (id tiebreak) so a libm-pow
    ulp can't reorder the boundary across engines. Rows with
    non-positive or NULL weight are excluded (zero weight = never
    sampled). Output: (id, weight, sample_key, rank).
    """
    w = (
        F.col(weight_col)
        if isinstance(weight_col, str)
        else weight_col
    ).cast("double")
    u = (
        F.conv(hash_bucket(id_col, salt), 16, 10).cast("double") + 1.0
    ) / float(_HEX_SPACE + 1)
    key = F.round(F.pow(u, 1.0 / w), 9)
    ranked = (
        df.filter(w.isNotNull() & (w > 0))
        .select(
            F.col(id_col),
            w.alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.asc(id_col))
        .limit(k)
    )
    win = bounded_global_window(
        "sample_key", F.desc("sample_key"), F.asc(id_col)
    )
    return ranked.withColumn("rank", F.row_number().over(win))


def stratified_reservoir_topk(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    weight_col,
    k: int,
    salt: str = "swres",
) -> DataFrame:
    """Fixed-size weighted sampling without replacement PER STRATUM
    (Efraimidis & Spirakis 2006 A-ES keys, one reservoir per group) —
    the exact-n companion to ``stratified_hash_sample``'s rate-based
    keep: "exactly k docs per language, weighted by length",
    reproducible across engines/partitionings because u is md5-derived
    (the ``weighted_reservoir_topk`` keys, same 9dp rounding + id
    tiebreak so a libm-pow ulp can't reorder a boundary).

    Scale shape — deliberately NOT a ``row_number() OVER (PARTITION BY
    stratum)`` window (a corpus-sized stratum funnels through one
    task) and NOT a single collect_list per stratum (same funnel):
    a TWO-LEVEL top-k. Level 1 groups on (stratum,
    spark_partition_id) — the pid in the key spreads every stratum
    across all partitions, so the one full-data shuffle moves only
    the narrow (stratum, id, weight, key) projection with zero skew
    and slices each cell to k. Level 2 aggregates the ≤ partitions×k
    candidates per stratum — top-k of per-partition top-ks is exactly
    the global top-k. Ranks fall out of the final k-bounded sorted
    array's positions; no window anywhere.

    Rows with NULL stratum or non-positive/NULL weight are excluded.
    Output: (stratum, id, weight, sample_key, rank) — rank 1 = the
    stratum's largest key; strata with fewer than k rows return all
    their rows.
    """
    w = (
        F.col(weight_col) if isinstance(weight_col, str) else weight_col
    ).cast("double")
    u = (
        F.conv(hash_bucket(id_col, salt), 16, 10).cast("double") + 1.0
    ) / float(_HEX_SPACE + 1)
    key = F.round(F.pow(u, 1.0 / w), 9)
    # ascending struct sort gives (key DESC, id ASC) via the negated
    # key — one array_sort, no mixed-direction comparator needed
    cand = F.struct(
        (-key).alias("nk"), F.col(id_col).alias("i"), w.alias("w")
    )
    base = df.filter(
        F.col(strata_col).isNotNull() & w.isNotNull() & (w > 0)
    ).select(
        F.col(strata_col).alias("__st"),
        F.spark_partition_id().alias("__pid"),
        cand.alias("__c"),
    )
    local = base.groupBy("__st", "__pid").agg(
        F.slice(F.array_sort(F.collect_list("__c")), 1, k).alias("__t")
    )
    final = (
        local.select("__st", F.explode("__t").alias("__c"))
        .groupBy("__st")
        .agg(
            F.slice(F.array_sort(F.collect_list("__c")), 1, k).alias(
                "__t"
            )
        )
    )
    out = final.select(
        "__st", F.posexplode("__t").alias("__pos", "__c")
    )
    return out.select(
        F.col("__st").alias(strata_col),
        F.col("__c.i").alias(id_col),
        F.col("__c.w").alias("weight"),
        (-F.col("__c.nk")).alias("sample_key"),
        (F.col("__pos") + 1).cast("int").alias("rank"),
    )


# Poisson(1) CDF thresholds for inverse-CDF bootstrap weights: P(W<=k)
# for k = 0..5; a uniform beyond the last threshold draws weight 6.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
)


def poisson_bootstrap_means(
    df: DataFrame,
    id_col: str,
    value_col: str,
    replicates: int = 32,
    salt: str = "boot",
) -> DataFrame:
    """Poisson bootstrap — the distributed form of the classic
    resample-with-replacement: replicate b gives each row a weight
    drawn Poisson(1) from the DETERMINISTIC md5 uniform of
    (salt, b, id), so every engine (and every rerun) sees the same
    resamples. The replicate fan-out is map-side only (explode +
    per-row CASE); the shuffle carries one partial aggregate per
    (replicate × partition), and weighted sums accumulate in exact
    decimal, so replicate means are engine-identical. Output:
    (replicate, n_eff, boot_mean) — feed the B means to any quantile
    op for the CI."""
    if replicates < 1:
        raise ValueError(f"replicates must be >= 1, got {replicates}")
    rep = F.explode(
        F.sequence(F.lit(0), F.lit(replicates - 1))
    ).alias("replicate")
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{salt}:"),
                    F.col("replicate").cast("string"),
                    F.lit(":"),
                    F.col(id_col).cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("double") / F.lit(float(16**8))
    w = F.lit(6)
    for k in range(len(POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < POISSON1_CDF[k], F.lit(k)).otherwise(w)
    weighted = df.select(
        F.col(id_col),
        F.col(value_col).cast("decimal(18,6)").alias("__v"),
        rep,
    ).select("replicate", "__v", w.alias("__w"))
    return (
        weighted.groupBy("replicate")
        .agg(
            F.sum("__w").alias("n_eff"),
            F.round(
                (
                    F.sum(F.col("__w") * F.col("__v")).cast("double")
                    / F.sum("__w")
                ),
                6,
            ).alias("boot_mean"),
        )
    )


def group_capped_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    salt: str = "gcap",
) -> DataFrame:
    """At most ``k`` rows per group, chosen uniformly without
    replacement and DETERMINISTICALLY: rank each group by the md5 hash
    of (salt, id) — uniform over ids — and keep the first k. The
    "cap every language / source at N documents" mixture-control op.
    Spark plans the row_number filter as WindowGroupLimit, discarding
    beyond-k rows in a partial pass BEFORE the group shuffle, so the
    exchange carries at most k rows per (partition, group)."""
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(id_col, salt), F.col(id_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def dedup_aware_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fractions: dict[str, float] | None = None,
    salt: str = "split",
    **minhash_kwargs,
) -> DataFrame:
    """Near-dup-leakage-safe train/val/test assignment: the split hash
    keys on each document's near-dup CLUSTER representative (smallest
    id of its MinHash-LSH connected component), not the document id —
    so near-duplicates land in the SAME split BY CONSTRUCTION and a
    paraphrase of a training document can never sit in the eval set
    (the leakage mode a plain per-doc hash split cannot see; the
    n-gram variant of the same concern is ``check_split_leakage``).

    Composition of two proven pieces: ``near_dup_clusters`` (banded
    LSH pairs → components) + ``hash_split`` keyed on the cluster
    representative; documents in no cluster (the overwhelming
    majority) fall back to their own id — identical labels to a plain
    hash split, so the clustering only ever CORRECTS assignments, at
    zero extra shuffle beyond the dedup pass itself.

    Output: (id, cluster_rep, split)."""
    from icnarc_to_philips_linkage_spark.operators.dedup_scale import (
        near_dup_clusters,
    )

    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    clusters = near_dup_clusters(df, id_col, text_col, **minhash_kwargs)
    rep = (
        df.select(id_col)
        .join(
            clusters.select(F.col(id_col), "cluster_id"), id_col, "left"
        )
        .withColumn(
            "cluster_rep", F.coalesce("cluster_id", F.col(id_col))
        )
    )
    return hash_split(rep, "cluster_rep", fractions, salt=salt).select(
        id_col, "cluster_rep", "split"
    )


def select_token_budget(
    df: DataFrame,
    budget_tokens: int,
    quality_col: str = "p_quality",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    """Greedy highest-quality-first corpus selection under a TOKEN
    budget: order documents by (quality DESC, id ASC), keep whole
    documents while the running token total stays within
    ``budget_tokens``. This is the curation step that turns "we can
    afford N training tokens" into a concrete document set —
    ``sample_weighted_topk`` bounds the COUNT of rows; a training-mix
    budget bounds their token SUM.

    Scale shape — a single global ``Window.orderBy`` running sum would
    serialize the corpus through one task, so the prefix sum is
    distributed the two-level way (the ``pack_sequences`` pattern):
    ``repartitionByRange`` on (quality DESC, id) range-partitions the
    corpus in selection order, each partition prefix-sums locally, and
    the per-partition totals (one row per partition, a plan-literal
    bounded by the partition count) fold into CASE offsets. The
    boundary document — first to overflow — is dropped along with
    everything after it (whole-doc semantics, no truncation).

    Rows with NULL quality or non-positive/NULL token counts are
    excluded up front: they cannot be ranked / consume no budget.

    Output: ``(id, quality, tokens, cum_tokens)`` for the selected
    set, ``cum_tokens`` the inclusive running total (≤ budget).
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    base = df.filter(
        F.col(quality_col).isNotNull() & (F.col(tokens_col) > 0)
    ).select(id_col, quality_col, tokens_col)
    n_parts = partitions or width(base.sparkSession)
    ranged = base.repartitionByRange(
        n_parts, F.desc(quality_col), F.asc(id_col)
    ).sortWithinPartitions(F.desc(quality_col), F.asc(id_col))
    part_w = (
        Window.partitionBy("__pid")
        .orderBy(F.desc(quality_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = (
        ranged.withColumn("__pid", F.spark_partition_id())
        .withColumn("__local_end", F.sum(tokens_col).over(part_w))
    )
    # localCheckpoint, not persist: offsets collected below are valid
    # only if spark_partition_id() stays identical when the filter
    # re-evaluates (see pack_sequences for the failure mode)
    local = local.localCheckpoint(eager=True)
    totals = (
        local.groupBy("__pid")
        .agg(F.max("__local_end").alias("__total"))
        .collect()
    )
    # range partition 0 holds the HIGHEST quality: accumulate offsets
    # in ascending pid order
    offsets, acc = {}, 0
    for r in sorted(totals, key=lambda x: x["__pid"]):
        offsets[r["__pid"]] = acc
        acc += r["__total"]
    off = None
    for pid, o in offsets.items():
        c = F.when(F.col("__pid") == pid, F.lit(o))
        off = c if off is None else off.when(F.col("__pid") == pid, F.lit(o))
    off = off.otherwise(F.lit(0)) if off is not None else F.lit(0)
    return (
        local.withColumn("cum_tokens", off + F.col("__local_end"))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(id_col, quality_col, tokens_col, "cum_tokens")
    )


def unimax_allocation(
    df: DataFrame,
    budget_tokens: int | None = None,
    max_epochs_pct: int = 105,
    source_col: str = "source",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """UniMax-style training-mix allocation (Chung et al. 2023,
    "UniMax: Fairer and More Effective Language Sampling"): distribute
    a total token budget across sources as UNIFORMLY as possible,
    capping each source at ``max_epochs_pct/100`` epochs of its own
    corpus so low-resource sources are never over-repeated. The
    waterfilling solution: find the level ``u`` with
    ``Σ_s min(u, cap_s) = budget`` — sources below the level
    contribute everything (capped), the rest get ``u`` each.

    Everything happens on the per-source aggregate — |sources| rows —
    so windows/joins below are bounded regardless of corpus size; the
    one corpus-wide operation is the initial token-sum groupBy.
    The level search is CLOSED-FORM, not iterative: order sources by
    cap ascending, and for each candidate count ``k`` of capped
    sources the level is ``u_k = (budget − P_k)/(n − k)`` (``P_k`` the
    prefix cap sum); exactly one ``k`` satisfies
    ``cap_k ≤ u_k < cap_{k+1}``, checked by INTEGER cross-
    multiplication — no float enters the selection, so engines agree
    bit-for-bit. ``budget = None`` uses the corpus total (re-balance
    in place).

    Output per source: ``(source, corpus_tokens, cap_tokens,
    alloc_tokens, epochs, capped)`` — ``alloc_tokens`` the exact
    integer cap for capped sources, else ``u`` rounded to 6dp;
    ``epochs = alloc/corpus`` rounded to 6dp.
    """
    if max_epochs_pct <= 0:
        raise ValueError("max_epochs_pct must be positive")
    per = df.groupBy(source_col).agg(
        F.sum(tokens_col).alias("corpus_tokens")
    ).filter(F.col("corpus_tokens") > 0)
    # floor, not cast: Spark's double->long cast truncates toward zero
    # while DuckDB's rounds — floor agrees everywhere, and the product
    # stays exact in a double for any real per-source token count
    # (needs corpus_tokens * pct < 2^53)
    per = per.withColumn(
        "cap_tokens",
        F.floor(F.col("corpus_tokens") * max_epochs_pct / 100),
    )
    if budget_tokens is None:
        tot = per.agg(F.sum("corpus_tokens")).collect()[0][0] or 0
        budget_tokens = int(tot)
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    b = F.lit(budget_tokens)
    w_ord = bounded_global_window(
        "cap_tokens", F.asc("cap_tokens"), F.asc(source_col)
    )
    w_all = bounded_global_partition("cap_tokens")
    idx = (
        per.withColumn("__i", F.row_number().over(w_ord))
        .withColumn(
            "__p",
            F.sum("cap_tokens").over(
                w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("__n", F.count(F.lit(1)).over(w_all))
        # materialized as a column: window expressions are illegal
        # inside the filter below
        .withColumn("__prev_cap", F.lag("cap_tokens", 1, 0).over(w_ord))
    )
    # candidate k = __i − 1 capped sources BEFORE this row; this row is
    # the first UNCAPPED one iff cap_i·(n−k) > budget − P_{k} with
    # P_k = __p − cap_i, and the previous row is capped (or k = 0):
    # cap_{i−1}·(n−k) ≤ budget − P_k. All-capped (Σcap ≤ budget) has
    # no such row — handled by the outer coalesce.
    prev_cap = F.col("__prev_cap")
    rem = b - (F.col("__p") - F.col("cap_tokens"))
    slots = F.col("__n") - (F.col("__i") - 1)
    level_row = (
        idx.filter(
            (F.col("cap_tokens") * slots > rem)
            & (prev_cap * slots <= rem)
        )
        .select(
            (F.col("__i") - 1).alias("__k"),
            rem.alias("__rem"),
            slots.alias("__slots"),
            F.col("__i").alias("__lvl_i"),
        )
        # the waterfilling level is unique; the ordered limit is a
        # determinism belt-and-braces, not a selection rule
        .orderBy("__lvl_i")
        .limit(1)
        .drop("__lvl_i")
    )
    # LEFT join on TRUE against the 0-or-1-row level frame: if no
    # level row exists (Σcap ≤ budget) every source is capped and the
    # level columns come back NULL
    out = idx.join(F.broadcast(level_row), F.lit(True), "left")
    u = F.col("__rem").cast("double") / F.col("__slots")
    capped = F.col("__k").isNull() | (F.col("__i") <= F.col("__k"))
    alloc = F.when(
        capped, F.col("cap_tokens").cast("double")
    ).otherwise(F.round(u, 6))
    return out.select(
        F.col(source_col),
        "corpus_tokens",
        "cap_tokens",
        alloc.alias("alloc_tokens"),
        F.round(alloc / F.col("corpus_tokens"), 6).alias("epochs"),
        capped.alias("capped"),
    )


def group_kfold(
    df: DataFrame,
    group_col: str,
    k: int = 5,
    salt: str = "fold",
    fold_col: str = "fold",
) -> DataFrame:
    """Leakage-safe k-fold assignment keyed on a GROUP (user, session,
    near-dup cluster): every row of a group lands in the same fold by
    construction — the GroupKFold of sklearn, as a pure projection.
    Plain row-hash folds leak whenever correlated rows (one user's
    events, one document's near-duplicates) straddle train and
    validation; hashing the group key makes straddling impossible
    rather than unlikely.

    fold = (md5-hex band of the group key) mod k, 1-based — the same
    md5-deterministic, partition-independent, engine-portable recipe
    as ``hash_split``; no shuffle, no state, reproducible forever from
    (salt, k).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    h = F.conv(hash_bucket(group_col, salt), 16, 10).cast("long")
    return df.withColumn(
        fold_col,
        F.when(
            F.col(group_col).isNotNull(), (h % F.lit(k)).cast("int") + 1
        ),
    )


def mixture_reweight_mwu(
    df: DataFrame,
    domain_col: str,
    loss_col: str,
    eta: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """One multiplicative-weights update of training-mixture domain
    weights from per-example losses — the arithmetic-form core of
    DoReMi-style domain reweighting (Xie et al. 2023): domains whose
    mean loss exceeds the pooled mean (excess loss > 0) are upweighted
    proportionally, starting from the observed count share.

    The published method exponentiates (``w ∝ w·exp(η·excess)``);
    this operator uses the linear MWU step ``w ∝ share·(1 + η·excess)``
    (clamped at 0) — the standard small-η surrogate — because ``exp``
    is a libm call whose last-ulp behavior differs across engines,
    while +,×,/ are exactly-rounded IEEE ops (the ``fast_sigmoid``
    portability argument in ``regression``).

    Engine-exactness: per-row losses quantize to the 1e-6 grid as
    integers, so domain sums are order-independent; every mean is one
    exact-integer division; the updated weights quantize to the 1e-12
    grid before normalizing so the denominator is an exact integer
    sum. Scale shape: ONE map-combined aggregation on the domain key
    (domain-bounded output), then a broadcast of the 1-row pooled
    frame — no corpus re-shuffles, no driver loop.

    Output per domain: ``(domain, n_rows, mean_loss, excess,
    base_share, new_weight)`` — ``new_weight`` sums to 1 up to the
    rounding grid.
    """
    loss_q = F.floor(
        F.abs(F.col(loss_col).cast("double")) * F.lit(1e6) + F.lit(0.5)
    ) * F.when(F.col(loss_col) < 0, F.lit(-1)).otherwise(F.lit(1))
    base = df.filter(
        F.col(domain_col).isNotNull() & F.col(loss_col).isNotNull()
    ).select(F.col(domain_col).alias("domain"), loss_q.alias("__lq"))
    per = base.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("__lq").cast("decimal(38,0)")).alias("__sum_lq"),
    )
    tot = per.agg(
        F.sum("n_rows").alias("__n"),
        F.sum("__sum_lq").alias("__sum_all"),
    )
    joined = per.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_rows",
        (F.col("__sum_lq").cast("double") / F.col("n_rows") / F.lit(1e6))
        .alias("__mean"),
        (F.col("__sum_all").cast("double") / F.col("__n") / F.lit(1e6))
        .alias("__pooled"),
        (F.col("n_rows").cast("double") / F.col("__n")).alias("__share"),
    )
    # Degenerate-input guard (ADVICE r9): when every loss is 0 the
    # pooled mean is 0 and 0/0 is NaN in Spark (but NULL in DuckDB) —
    # NaN then survives greatest(NaN, 0) and every new_weight ends
    # NULL. Define excess = 0 at pooled == 0, so weights fall back to
    # the base count shares in both engines.
    excess = F.when(
        F.col("__pooled") != 0,
        F.round(
            (F.col("__mean") - F.col("__pooled")) / F.col("__pooled"),
            round_dp,
        ),
    ).otherwise(F.lit(0.0))
    w_raw = F.greatest(
        F.col("__share") * (F.lit(1.0) + F.lit(eta) * excess), F.lit(0.0)
    )
    w_q = F.floor(w_raw * F.lit(1e12) + F.lit(0.5)).cast("decimal(38,0)")
    staged = joined.select(
        "domain",
        "n_rows",
        F.round("__mean", round_dp).alias("mean_loss"),
        excess.alias("excess"),
        F.round("__share", round_dp).alias("base_share"),
        w_q.alias("__wq"),
    )
    denom = staged.agg(F.sum("__wq").alias("__wsum"))
    return staged.crossJoin(F.broadcast(denom)).select(
        "domain",
        "n_rows",
        "mean_loss",
        "excess",
        "base_share",
        F.when(
            F.col("__wsum") > 0,
            F.round(
                F.col("__wq").cast("double") / F.col("__wsum").cast("double"),
                round_dp,
            ),
        ).alias("new_weight"),
    )


def ht_total_estimate(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "stratified",
    id_col: str = "doc_id",
    round_dp: int = 6,
) -> DataFrame:
    """Horvitz-Thompson total estimation from a stratified
    deterministic sample: estimate each stratum's value total from
    ONLY the rows ``stratified_hash_sample`` keeps, dividing by the
    known inclusion probability — the estimator that makes cheap
    sampled dashboards honest ("what WOULD the full-corpus total be")
    and here doubles as a self-audit, reporting the exact relative
    error against the true total computed in the same pass.

    Because π is CONSTANT within a stratum, the estimator is
    ``(Σ_{sampled} x) / π`` — one exact integer sum divided once, no
    per-row float weights to accumulate (order-independent,
    oracle-identical). Scale shape: the md5 keep-predicate is
    map-side; one aggregation keyed on the stratum computes sampled
    and true sums together via conditional sums — ONE scan, one
    stratum-bounded shuffle.

    Output per stratum: ``(stratum, pi, n_rows, n_sampled,
    true_total, ht_total, rel_err)``; strata with π = 0 report NULL
    estimates.

    Contracts: rows with a NULL ``id_col`` are excluded from the
    population entirely (a NULL id can never be sampled — see the
    filter note below); ``value_col`` must be integer-valued — the
    exact-sum path casts through ``decimal(38,0)``, which ROUNDS
    fractional values silently.
    """
    bucket = hash_bucket(id_col, salt)
    thr = None
    pi_expr = None
    for value, frac in fractions.items():
        cond = F.col(strata_col) == value
        t = F.lit(_threshold_hex(frac))
        p = F.lit(float(frac))
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
        pi_expr = (
            F.when(cond, p) if pi_expr is None else pi_expr.when(cond, p)
        )
    thr = thr.otherwise(F.lit(_threshold_hex(default_fraction)))
    pi_expr = pi_expr.otherwise(F.lit(float(default_fraction)))
    kept = (bucket < thr).cast("int")
    v = F.col(value_col).cast("decimal(38,0)")
    per = (
        # NULL ids are excluded from the POPULATION, not just the
        # sample (ADVICE r9): the md5 keep-predicate evaluates NULL on
        # a NULL id, so such rows could never be sampled — counting
        # them in n_rows/true_total would bias ht_total low. The
        # estimator's population is "rows with a samplable id".
        df.filter(
            F.col(strata_col).isNotNull()
            & F.col(value_col).isNotNull()
            & F.col(id_col).isNotNull()
        )
        .groupBy(F.col(strata_col).alias("stratum"))
        .agg(
            F.first(pi_expr).alias("pi"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(kept).alias("n_sampled"),
            F.sum(v).alias("__true"),
            F.sum(F.when(kept == 1, v).otherwise(F.lit(0))).alias("__samp"),
        )
    )
    ht = F.col("__samp").cast("double") / F.col("pi")
    true_d = F.col("__true").cast("double")
    return per.select(
        "stratum",
        "pi",
        "n_rows",
        "n_sampled",
        F.col("__true").cast("long").alias("true_total"),
        F.when(F.col("pi") > 0, F.round(ht, round_dp)).alias("ht_total"),
        F.when(
            (F.col("pi") > 0) & (true_d != 0),
            F.round((ht - true_d) / true_d, round_dp),
        ).alias("rel_err"),
    )


def temperature_mixture(
    df: DataFrame,
    domain_col: str,
    alpha: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """Temperature-scaled multilingual/domain sampling weights
    (the mC4/XLM-R standard: ``p_i ∝ share_i^α`` with α = 1/T < 1
    flattening the mixture so low-resource domains surface): one
    domain-keyed aggregation, then the reweighting arithmetic on the
    bounded domain frame.

    α = 0.5 (the default) computes ``share^α`` as ``sqrt`` — an
    IEEE-CORRECTLY-ROUNDED operation, so the weights are bit-exact
    across engines with no rounding escape needed; other α go
    through ``pow``, whose last-ulp behavior is libm-specific (the
    BM25 ``ln`` precedent: acceptable under the 6dp output round,
    but sqrt is strictly stronger). Raw weights quantize to 1e-12
    integers before normalizing (exact denominator, the
    mixture_reweight_mwu discipline).

    Output per domain: ``(domain, n_rows, share, weight,
    effective_epochs)`` — effective_epochs = weight/share, how many
    times the domain's data is (fractionally) repeated under the
    flattened mix.
    """
    per = (
        df.filter(F.col(domain_col).isNotNull())
        .groupBy(F.col(domain_col).alias("domain"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    tot = per.agg(F.sum("n_rows").alias("__n"))
    share = F.col("n_rows").cast("double") / F.col("__n")
    if alpha == 0.5:
        w_raw = F.sqrt(share)
    else:
        w_raw = F.pow(share, F.lit(float(alpha)))
    staged = per.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_rows",
        share.alias("__share"),
        F.floor(w_raw * F.lit(1e12) + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("__wq"),
    )
    denom = staged.agg(F.sum("__wq").alias("__wsum"))
    weight = F.col("__wq").cast("double") / F.col("__wsum").cast("double")
    return staged.crossJoin(F.broadcast(denom)).select(
        "domain",
        "n_rows",
        F.round("__share", round_dp).alias("share"),
        F.round(weight, round_dp).alias("weight"),
        F.round(weight / F.col("__share"), round_dp).alias(
            "effective_epochs"
        ),
    )
