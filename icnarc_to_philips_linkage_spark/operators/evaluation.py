"""Classifier-evaluation statistics at corpus scale.

A quality filter (``plans/llm.quality_classifier_score``) gates what
enters the training mix; before trusting its threshold on 100 TB you
evaluate it against a labelled slice. This module computes the three
standard evaluation artifacts as exact, deterministic aggregations:

- **ROC AUC** (``roc_auc``): tie-aware Mann-Whitney form. The naive
  definition compares all pos×neg pairs (quadratic); the rank-sum form
  needs only per-distinct-score counts and one cumulative pass.
- **Precision/recall sweep** (``pr_at_thresholds``): confusion counts
  at a caller-fixed threshold grid — one conditional aggregation per
  scan, grid size independent of data size.
- **Calibration bins** (``calibration_bins``): reliability diagram —
  mean predicted probability vs empirical positive rate per equal-width
  bin, plus each bin's ECE contribution.

Scale shape, in order:

- ``roc_auc`` groups by the ROUNDED score (the classifier already
  emits ``p_quality`` on a 1e-6 grid), so the post-aggregation frame
  is bounded by the grid cardinality (≤ 1e6 + 1 rows) no matter how
  many documents scored — the one global ordered pass runs over that
  bounded frame, the same bounded-global-window justification as the
  digit/hour windows elsewhere in the package. Rank arithmetic stays
  in INTEGERS until the final division: with ``c`` = count and ``b`` =
  count of strictly-lower scores at a tied block, the block's average
  rank is ``b + (c+1)/2``, so ``2·rank_sum = pos·(2b + c + 1)`` is
  integral; it accumulates as ``decimal(38,0)`` (a long sum wraps
  silently under the session's ansi=false once n_pos·n ≈ 2^63) and
  ``AUC = (2·U) / (2·n_pos·n_neg)`` divides two exact integers,
  making the statistic bit-reproducible across engines and partition
  counts (no float accumulation order to disagree on) up to
  ~7e18 input rows.
- ``pr_at_thresholds`` and ``calibration_bins`` are single
  ``groupBy`` plans with threshold-grid / bin cardinality, i.e. one
  shuffle of at most ``len(thresholds)`` / ``bins`` rows.

Reference provenance: the reference repo audits its linkage quality
with hand-checked frequency tables (``clean_encounterids.py:202-245``,
the ``print_*_summary`` helpers); this module is the scaled
generalization — the same
"how good is the decision rule" question, answered with the standard
statistics a corpus-scale pipeline actually monitors.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from icnarc_to_philips_linkage_spark.operators.scale import (
    bounded_global_partition,
    bounded_global_window,
)


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    round_dp: int = 9,
) -> DataFrame:
    """Exact tie-aware ROC AUC of ``score_col`` against the boolean
    ``label_col``.

    Mann-Whitney identity: ``AUC = U / (n_pos · n_neg)`` where ``U`` is
    the rank-sum of positive scores (ascending ranks, ties taking the
    block-average rank) minus ``n_pos·(n_pos+1)/2``. Computed from
    per-distinct-score (count, positives) pairs; see the module
    docstring for the integer form and the bounded-frame argument.

    Returns one row: ``n_pos, n_neg, auc`` (AUC rounded to
    ``round_dp``). Rows with a NULL score or label are excluded (they
    have no rank). Degenerate slices (no positives or no negatives)
    return a NULL auc rather than raising — monitoring queries run
    unattended.
    """
    return roc_auc_by(df, score_col, label_col, [], round_dp=round_dp)


def roc_auc_by(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: Sequence[str],
    round_dp: int = 9,
) -> DataFrame:
    """Per-group exact tie-aware ROC AUC — ``roc_auc`` stratified by
    ``group_cols`` (e.g. per-language classifier audit: a filter that
    looks fine globally can be near-random on a minority slice).

    Same shape as the global form: the cumulative rank pass runs per
    group over the per-(group, distinct score) frame, so each window
    partition is bounded by the score grid and group shuffles carry
    only that bounded aggregate. Returns ``(*group_cols, n_pos, n_neg,
    auc)``; groups with one class get a NULL auc.
    """
    gcols = list(group_cols)
    lbl = F.col(label_col).cast("boolean")
    per_score = (
        df.filter(F.col(score_col).isNotNull() & lbl.isNotNull())
        .groupBy(*gcols, F.col(score_col).alias("__s"))
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum(lbl.cast("long")).alias("__p"),
        )
    )
    w = (
        (
            Window.partitionBy(*gcols)
            if gcols
            else bounded_global_partition("__s")
        )
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # __b = strictly-lower count; 2·(avg rank of the tied block) =
    # 2·__b + __c + 1, integral by construction. The rank-sum product
    # and its correction term accumulate as decimal(38,0), NOT long:
    # with ansi off (session default) a long sum wraps SILENTLY, and
    # __p·(2b+c+1) approaches 2^63 once n_pos·n ≈ 2e9·2e9 on balanced
    # labels — well inside a 100 TB labelled slice. decimal(38,0)
    # stays exact to n ≈ 7e18 rows (n·(2n+1) ≤ 1e38), i.e. any corpus
    # whose row count fits in a long, preserving the bit-reproducible
    # claim.
    ranked = per_score.withColumn(
        "__b", F.sum("__c").over(w) - F.col("__c")
    ).withColumn(
        "__rs2",
        F.col("__p").cast("decimal(38,0)")
        * (F.lit(2) * F.col("__b") + F.col("__c") + 1).cast("decimal(38,0)"),
    )
    return ranked.groupBy(*gcols).agg(
        F.sum("__p").alias("n_pos"),
        (F.sum("__c") - F.sum("__p")).alias("n_neg"),
        F.sum("__rs2").alias("__rs2_tot"),
    ).select(
        *gcols,
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                (
                    F.col("__rs2_tot")
                    - F.col("n_pos").cast("decimal(38,0)")
                    * (F.col("n_pos") + 1).cast("decimal(38,0)")
                ).cast("double")
                / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
                round_dp,
            ),
        ).alias("auc"),
    )


def pr_at_thresholds(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: Sequence[float],
    round_dp: int = 6,
) -> DataFrame:
    """Precision / recall / F1 / accuracy at each caller-fixed
    threshold (predict positive iff ``score >= t``).

    One scan: explodes the literal threshold grid against each row's
    (score, label) — the map-side blow-up factor is ``len(thresholds)``
    (a handful), then a single groupBy(threshold) of conditional
    counts. Grid rows with zero predicted positives yield NULL
    precision/F1 (undefined), recall still defined.

    Returns per threshold: ``threshold, tp, fp, fn, tn, precision,
    recall, f1, accuracy`` — ratios rounded to ``round_dp``.
    """
    if not thresholds:
        raise ValueError("thresholds must be a non-empty sequence")
    lbl = F.col(label_col).cast("boolean")
    base = df.filter(
        F.col(score_col).isNotNull() & lbl.isNotNull()
    ).select(
        F.col(score_col).alias("__s"), lbl.alias("__y")
    )
    grid = F.explode(
        F.array(*[F.lit(float(t)) for t in thresholds])
    ).alias("threshold")
    conf = (
        base.select("__s", "__y", grid)
        .groupBy("threshold")
        .agg(
            F.sum(((F.col("__s") >= F.col("threshold")) & F.col("__y"))
                  .cast("long")).alias("tp"),
            F.sum(((F.col("__s") >= F.col("threshold")) & ~F.col("__y"))
                  .cast("long")).alias("fp"),
            F.sum(((F.col("__s") < F.col("threshold")) & F.col("__y"))
                  .cast("long")).alias("fn"),
            F.sum(((F.col("__s") < F.col("threshold")) & ~F.col("__y"))
                  .cast("long")).alias("tn"),
        )
    )
    pred_pos = F.col("tp") + F.col("fp")
    actual_pos = F.col("tp") + F.col("fn")
    prec = F.when(
        pred_pos > 0, F.col("tp").cast("double") / pred_pos
    )
    rec = F.when(
        actual_pos > 0, F.col("tp").cast("double") / actual_pos
    )
    return conf.select(
        "threshold", "tp", "fp", "fn", "tn",
        F.round(prec, round_dp).alias("precision"),
        F.round(rec, round_dp).alias("recall"),
        F.round(
            F.when(
                prec.isNotNull() & rec.isNotNull() & ((prec + rec) > 0),
                F.lit(2.0) * prec * rec / (prec + rec),
            ),
            round_dp,
        ).alias("f1"),
        F.round(
            (F.col("tp") + F.col("tn")).cast("double")
            / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")),
            round_dp,
        ).alias("accuracy"),
    )


def calibration_bins(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    bins: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """Reliability-diagram bins over predicted probability in [0, 1]:
    equal-width bins (prob 1.0 clamps into the top bin), per bin the
    document count, mean predicted probability, empirical positive
    rate, and the bin's |gap|·weight contribution to expected
    calibration error. ``sum(ece_contrib)`` over the result IS the ECE.

    Mean predicted probability averages the 6dp-rounded classifier
    output (a fixed decimal grid), summed as ``decimal(38,6)`` so the
    bin mean is partition-order independent before the final rounding.

    Returns per bin: ``bin, n, mean_p, pos_rate, ece_contrib``.
    """
    if bins <= 0:
        raise ValueError("bins must be positive")
    lbl = F.col(label_col).cast("boolean")
    base = df.filter(F.col(prob_col).isNotNull() & lbl.isNotNull())
    bin_idx = F.least(
        F.lit(bins - 1),
        F.floor(F.col(prob_col) * bins).cast("int"),
    )
    n_tot = bounded_global_partition(
        "bin"
    )  # 1-row aggregate broadcast per bin via window over <=bins rows
    out = (
        base.groupBy(bin_idx.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(prob_col).cast("decimal(38,6)")).alias("__sp"),
            F.sum(lbl.cast("long")).alias("__pos"),
        )
        .withColumn("__n_tot", F.sum("n").over(n_tot))
    )
    mean_p = F.col("__sp").cast("double") / F.col("n")
    pos_rate = F.col("__pos").cast("double") / F.col("n")
    return out.select(
        "bin",
        "n",
        F.round(mean_p, round_dp).alias("mean_p"),
        F.round(pos_rate, round_dp).alias("pos_rate"),
        F.round(
            F.abs(mean_p - pos_rate) * F.col("n") / F.col("__n_tot"),
            round_dp,
        ).alias("ece_contrib"),
    )


def ks_separation(
    df: DataFrame,
    score_col: str,
    label_col: str,
    round_dp: int = 9,
) -> DataFrame:
    """Kolmogorov–Smirnov separation of the score distributions:
    ``KS = max_s |CDF_pos(s) − CDF_neg(s)|`` — the classifier-
    separability statistic reported next to AUC (credit-scoring "KS");
    also the threshold where Youden's J peaks. Same scale shape as
    ``roc_auc``: one per-distinct-score aggregate bounds everything
    downstream at the score grid; the cumulative pass never sees the
    corpus. Integer numerators until the final divisions, so engines
    agree bit-for-bit.

    Returns one row: ``n_pos, n_neg, ks, ks_score`` — ``ks_score`` is
    the score where the gap peaks (smallest such score on ties).
    Degenerate single-class slices return NULL ks/ks_score.
    """
    lbl = F.col(label_col).cast("boolean")
    per_score = (
        df.filter(F.col(score_col).isNotNull() & lbl.isNotNull())
        .groupBy(F.col(score_col).alias("__s"))
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum(lbl.cast("long")).alias("__p"),
        )
    )
    w = bounded_global_window("__s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = bounded_global_partition("__s")
    cum = (
        per_score.withColumn("__cp", F.sum("__p").over(w))
        .withColumn("__cn", F.sum(F.col("__c") - F.col("__p")).over(w))
        .withColumn("__tp", F.sum("__p").over(w_all))
        .withColumn("__tn", F.sum(F.col("__c") - F.col("__p")).over(w_all))
    )
    gap = F.abs(
        F.col("__cp").cast("double") / F.col("__tp")
        - F.col("__cn").cast("double") / F.col("__tn")
    )
    scored = cum.select(
        "__s", "__tp", "__tn", F.round(gap, round_dp).alias("__gap")
    )
    best = (
        scored.withColumn(
            "__rn",
            F.row_number().over(
                bounded_global_window(
                    "__s", F.desc("__gap"), F.asc("__s")
                )
            ),
        )
        .filter(F.col("__rn") == 1)
    )
    # ALWAYS one output row: the argmax row-number filter yields ZERO
    # rows on an empty/fully-filtered input, so anchor on a literal
    # single-row frame and LEFT-join the (≤1 row, broadcast) argmax —
    # empty input then returns one all-NULL row, matching roc_auc's
    # degenerate global-aggregate behavior (unattended monitoring
    # callers index result[0]).
    one = df.sparkSession.range(1).select(F.lit(1).alias("__k"))
    best_k = best.select(
        F.lit(1).alias("__k"), "__tp", "__tn", "__gap", "__s"
    )
    return one.join(F.broadcast(best_k), "__k", "left").select(
        F.col("__tp").alias("n_pos"),
        F.col("__tn").alias("n_neg"),
        F.when(
            (F.col("__tp") > 0) & (F.col("__tn") > 0), F.col("__gap")
        ).alias("ks"),
        F.when(
            (F.col("__tp") > 0) & (F.col("__tn") > 0), F.col("__s")
        ).alias("ks_score"),
    )


def discount_table(k: int, scale: int = 10**12) -> list[int]:
    """Integer DCG discounts for ranks 1..k: round(scale / log2(r+1)).

    The log2 is evaluated ONCE, driver-side, into a k-length literal
    list — both the Spark plan and the DuckDB oracle embed the SAME
    integers, so the irrational discounts can never diverge between
    engines (the roc_auc bit-reproducibility principle applied to
    nDCG). scale=1e12 keeps six significant decimals after the final
    6dp rounding with room to spare; sums of k such longs stay far
    below 2^63 for any sane k."""
    import math

    return [round(scale / math.log2(r + 1)) for r in range(1, k + 1)]


def ndcg_mrr_per_query(
    truth: DataFrame,
    ranked: DataFrame,
    k: int = 10,
    score_col: str = "cos_sim",
    id_col: str = "neighbor_id",
    round_dp: int = 6,
) -> DataFrame:
    """Per-query ranking quality of a retrieval system against a
    binary-relevance truth set: nDCG@k and reciprocal rank — the
    tuning harness for the BM25 / RRF / MMR / ANN stack
    (``recall_at_k`` tells you WHETHER the relevant items are in the
    list; this tells you WHERE).

    ``truth`` is (query_id, id_col): the relevant set per query (e.g.
    exact brute-force top-k). ``ranked`` is (query_id, id_col,
    score_col): the system's candidates; rank = dense position by
    (score DESC, id ASC), cut at ``k``.

    Exactness: DCG = Σ discount(rank) over relevant hits with the
    discounts as PRECOMPUTED integer literals (``discount_table``), so
    per-query DCG/IDCG are exact long sums — no float-accumulation
    order, no cross-engine log2. nDCG = DCG/IDCG is one double
    division of exact integers; RR = 1/first_hit_rank likewise. IDCG
    indexes the cumulative discount literal at min(n_rel, k).

    Scale shape: the ranking window partitions by query and the input
    is a candidate list (queries × fan-out rows, NOT corpus-scale) —
    bounded partitions by construction; the discount array is a plan
    literal; one groupBy(query) aggregate; queries with no ranked hits
    score 0 via the left join from the truth side.

    Output: (query_id, n_rel, ndcg, rr), rounded to ``round_dp``.
    """
    disc = discount_table(k)
    cum = []
    acc = 0
    for d in disc:
        acc += d
        cum.append(acc)
    disc_lit = F.array(*[F.lit(d) for d in disc])
    cum_lit = F.array(*[F.lit(c) for c in cum])
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    rk = (
        ranked.select("query_id", id_col, score_col)
        .withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= k)
    )
    # ONE consumption of ``truth`` (r12 — was an inner-join hits
    # subtree PLUS a separate per-query totals aggregation, each
    # replaying the truth derivation; for a brute-force truth that was
    # two full corpus passes): left-join each truth pair against the
    # cut ranking (both sides pair-unique), then a single aggregate
    # yields n_rel, DCG (NULL ranks drop out of the sum) and the first
    # hit rank. Same exact integers, same NULL→0 paths.
    marked = truth.select("query_id", id_col).join(
        rk, ["query_id", id_col], "left"
    )
    tn = marked.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_rel"),
        F.sum(F.element_at(disc_lit, F.col("__rank"))).alias("__dcg"),
        F.min("__rank").alias("__first"),
    )
    idcg = F.element_at(cum_lit, F.least(F.col("n_rel"), F.lit(k)).cast("int"))
    return tn.select(
        "query_id",
        "n_rel",
        F.round(
            F.coalesce(F.col("__dcg"), F.lit(0)).cast("double") / idcg,
            round_dp,
        ).alias("ndcg"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("__first"), F.lit(0.0)), round_dp
        ).alias("rr"),
    )


def ndcg_mrr(
    truth: DataFrame,
    ranked: DataFrame,
    k: int = 10,
    score_col: str = "cos_sim",
    id_col: str = "neighbor_id",
    round_dp: int = 6,
) -> DataFrame:
    """Macro-averaged ranking quality: one row (n_queries, mean_ndcg,
    mean_mrr) over ``ndcg_mrr_per_query``. The means accumulate the
    6dp-rounded per-query values as decimal(18,6) — an EXACT sum — and
    divide once as double, so the macro numbers are engine- and
    partition-order-independent like every other statistic here."""
    per_q = ndcg_mrr_per_query(
        truth, ranked, k, score_col, id_col, round_dp
    )
    n = F.count(F.lit(1))
    return per_q.agg(
        n.alias("n_queries"),
        F.round(
            F.sum(F.col("ndcg").cast("decimal(18,6)")).cast("double")
            / n,
            round_dp,
        ).alias("mean_ndcg"),
        F.round(
            F.sum(F.col("rr").cast("decimal(18,6)")).cast("double") / n,
            round_dp,
        ).alias("mean_mrr"),
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Exact average precision (the Σ precision@rank(positive) / n_pos
    summary of the PR curve — threshold-free, unlike the fixed-grid
    ``pr_at_thresholds``) under a DETERMINISTIC total order
    (score DESC, ``id_col`` ASC): ties resolve by id, so the statistic
    is a pure function of the data, reproducible across engines and
    partitionings.

    Scale + exactness shape:

    - the two rankings (all rows; positives only) use the distributed
      two-level ``scale.global_rank`` — range exchange + local sort +
      literal offsets — NEVER a single-partition ``row_number()``
      window;
    - each positive contributes the INTEGER term
      ``floor(j·1e9 / r)`` (j = index among positives, r = global
      rank; j <= r so terms fit comfortably in a long for any slice
      below ~9e9 rows), accumulated as decimal(38,0) — no float sum
      order, the ``roc_auc`` reproducibility recipe. The 1e-9 term
      quantization is three orders below the default 6dp output
      rounding.

    Output one row: ``(n_pos, n, avg_precision)`` — NULL AP when the
    slice has no positives (monitoring runs unattended).
    """
    from icnarc_to_philips_linkage_spark.operators.scale import global_rank

    lbl = F.col(label_col).cast("boolean")
    base = df.filter(
        F.col(score_col).isNotNull() & lbl.isNotNull()
    ).select(
        F.col(id_col).alias("__id"),
        (-F.col(score_col)).alias("__negs"),
        lbl.alias("__y"),
    )
    ranked, total = global_rank(
        base, ["__negs", "__id"], rank_col="__r", return_total=True
    )
    pos = ranked.filter(F.col("__y"))
    posr = global_rank(pos, ["__negs", "__id"], rank_col="__j")
    agg = posr.select(
        F.expr("CAST((__j * 1000000000L) DIV __r AS LONG)").alias("__t")
    ).agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum(F.col("__t").cast("decimal(38,0)")).alias("__s"),
    )
    return agg.select(
        "n_pos",
        F.lit(int(total)).cast("long").alias("n"),
        F.when(
            F.col("n_pos") > 0,
            F.round(
                F.col("__s").cast("double")
                / (F.col("n_pos") * F.lit(1_000_000_000.0)),
                round_dp,
            ),
        ).alias("avg_precision"),
    )


def cohens_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
    round_dp: int = 9,
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical labelings (Cohen 1960): ``κ = (p_o − p_e)/(1 − p_e)``
    with observed agreement ``p_o`` and the marginal-product chance
    agreement ``p_e``. The label-QA statistic for training-data
    pipelines: gold vs heuristic labeler, annotator vs annotator,
    old vs new classifier version — raw percent-agreement over-credits
    skewed label distributions, kappa doesn't.

    Scale shape: one ``groupBy(a, b)`` contingency aggregation bounds
    everything downstream at k² rows (k = class cardinality) no matter
    the corpus size; marginals and the κ arithmetic run over that tiny
    frame. Everything stays in INTEGERS until the final division —
    with ``n`` rows, ``d`` = Σ diagonal counts and ``e`` = Σᵢ rowᵢ·colᵢ,
      κ = (n·d − e) / (n² − e)
    is a ratio of two exact integers (accumulated as decimal(38,0) so
    the n² product can't wrap a long under the session's ansi=false),
    bit-reproducible across engines and partition counts.

    Output one row: ``(n, n_classes, po, pe, kappa)`` — ``n_classes``
    is the union cardinality of both raters' observed labels; NULL
    kappa on the degenerate single-cell table (p_e = 1).
    """
    a = F.col(rater_a_col).cast("string")
    b = F.col(rater_b_col).cast("string")
    # Aggregate FIRST (null label groups retained), persist the tiny
    # k²-bounded frame, and drop null-key cells ABOVE the persist: a
    # .filter() on rater columns derived from heavy caller expressions
    # (e.g. the lang-id pipelines) is pushed by Catalyst to the scan
    # with the whole derivation inlined — evaluated once in the filter
    # and again in the grouping keys — and the contingency frame's
    # THREE consumers (rows/cols/totals) each replayed that corpus
    # pass. The persist is a k²+nulls-row cache, corpus-independent.
    from pyspark import StorageLevel

    cont = (
        df.groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("__c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cont = cont.filter(
        F.col("__a").isNotNull() & F.col("__b").isNotNull()
    )
    rows = cont.groupBy("__a").agg(F.sum("__c").alias("__ra"))
    cols = cont.groupBy("__b").agg(F.sum("__c").alias("__cb"))
    e = (
        rows.join(cols, rows["__a"] == cols["__b"])
        .agg(
            F.coalesce(
                F.sum(
                    (F.col("__ra") * F.col("__cb")).cast("decimal(38,0)")
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("__e")
        )
    )
    totals = cont.agg(
        F.coalesce(F.sum("__c"), F.lit(0).cast("decimal(38,0)")).alias("__n"),
        F.coalesce(
            F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__c"))),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__d"),
        F.size(
            F.array_distinct(
                F.flatten(F.collect_list(F.array("__a", "__b")))
            )
        ).alias("n_classes"),
    )
    out = totals.crossJoin(e)
    # Decimal÷decimal in Spark clamps the result scale (min 6) once the
    # operand precision saturates 38 — DuckDB doesn't — so divide as
    # DOUBLES: each exact integer converts to its nearest double
    # identically in both engines, and the quotient's ~1e-16 relative
    # error sits far below the round_dp grid.
    nn = (F.col("__n") * F.col("__n")).cast("decimal(38,0)")
    return out.select(
        F.col("__n").cast("long").alias("n"),
        "n_classes",
        F.when(
            F.col("__n") > 0,
            F.round(
                F.col("__d").cast("double") / F.col("__n").cast("double"),
                round_dp,
            ),
        ).alias("po"),
        F.when(
            F.col("__n") > 0,
            F.round(
                F.col("__e").cast("double") / nn.cast("double"), round_dp
            ),
        ).alias("pe"),
        F.when(
            nn != F.col("__e"),
            F.round(
                (F.col("__n") * F.col("__d") - F.col("__e")).cast("double")
                / (nn - F.col("__e")).cast("double"),
                round_dp,
            ),
        ).alias("kappa"),
    )


def fleiss_kappa(
    df: DataFrame,
    rater_cols: Sequence[str],
    round_dp: int = 9,
) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement among ``m`` raters
    per item (Fleiss 1971), the m-way generalization of
    ``cohens_kappa``: κ = (P̄ − P̄ₑ)/(1 − P̄ₑ) with per-item agreement
    P_i = (Σⱼ n_ij² − m)/(m(m−1)) and chance agreement P̄ₑ = Σⱼ p_j².
    The multi-labeler QA statistic: do three heuristic labelers (or
    annotators) agree beyond what their marginal label rates force?

    Scale shape: each input ROW is an item and carries all m
    assignments, so the per-item category counts n_ij are a ROW-WISE
    array expression — no shuffle keyed on the item, ever. ONE scan (r12: was two
    corpus passes): posexplode to the N·m category cells, each
    row's A-contribution riding its pos-0 cell only, hash-aggregate
    on the tiny category space, one scalar combine — recovering
    N and A = Σᵢⱼ n_ij² − N·m; one explode-free-equivalent
    pass (explode to N·m category cells, hash-aggregate on the tiny
    category space) produces the column totals for B = Σⱼ(Σᵢ n_ij)².
    Everything stays INTEGRAL until the final division —
      κ = (A·Nm − B·(m−1)) / ((Nm)² − B)·(m−1))⁻¹-free form:
      κ = (A·Nm − B·(m−1)) / (((Nm)² − B)·(m−1) / (Nm)) … computed as
      the exact integer ratio N1/D1 with N1 = A·Nm − B(m−1) and
      D1 = ((Nm)² − B)(m−1), accumulated as decimal(38,0) and divided
      as nearest-doubles (bit-reproducible across engines).

    Output one row: ``(n_items, m_raters, n_categories, p_bar, p_e,
    kappa)`` — NULL kappa when every assignment is one category
    (P̄ₑ = 1). Rows with any NULL assignment are excluded.
    """
    m = len(rater_cols)
    if m < 2:
        raise ValueError("fleiss_kappa needs at least 2 raters")
    arr = F.array(*[F.col(c).cast("string") for c in rater_cols])
    def _sq(v):  # INT square — `**` lowers to POWER (double) and
        # breaks aggregate()'s accumulator type
        s = F.size(F.filter(arr, lambda x: x == v))
        return s * s

    nn = F.aggregate(
        F.array_distinct(arr), F.lit(0), lambda acc, v: acc + _sq(v)
    )
    # NULL-rated items dropped by CONDITIONAL ARRAY, not .filter():
    # the same reasoning as krippendorff_alpha_nominal — a filter on
    # rater columns derived from heavy caller expressions is pushed
    # below any spread exchange with the whole derivation inlined and
    # the labeling then runs single-task AND twice. An empty array
    # explodes to zero cells; every aggregate below derives from the
    # cells, so the result is row-identical.
    complete = ~F.array_contains(
        F.transform(arr, lambda x: x.isNull()), F.lit(True)
    )
    base = df.select(
        F.when(complete, arr)
        .otherwise(F.expr("CAST(array() AS array<string>)"))
        .alias("__arr"),
        (nn - F.lit(m)).alias("__pi_num"),
    )
    # ONE corpus pass (r12 optimization — was two: a row-grain agg for
    # N/A plus a separate explode for the column totals, each
    # recomputing the per-row array work): posexplode to the N·m
    # category cells, charge each row's __pi_num to its pos-0 cell
    # only (so the global sum is exactly A, no division), reduce on
    # the tiny category grain, then one scalar combine. Same exact
    # integers, same outputs; per-cell A-partials ride as LONGs
    # (|__pi_num| <= m², so the sum is bounded by N·m² — overflow-safe
    # past 1e17 items) and widen to decimal(38,0) on the bounded
    # category frame.
    # posexplode_OUTER + pos-not-null for the same reason as
    # krippendorff_alpha_nominal: the non-outer generate makes Catalyst
    # infer a size/not-null filter and push the whole labeling
    # derivation below the caller's spread exchange (single-task,
    # evaluated twice). Row-identical: the outer row for an empty
    # array is (NULL, NULL) and is dropped on the generated column.
    cells = base.select(
        F.posexplode_outer("__arr").alias("__pos", "__cat"), "__pi_num"
    ).filter(F.col("__pos").isNotNull())
    percat = cells.groupBy("__cat").agg(
        F.count(F.lit(1)).alias("__tl"),
        F.sum(
            F.when(F.col("__pos") == 0, F.col("__pi_num")).otherwise(
                F.lit(0)
            )
        ).alias("__al"),
    )
    td = F.col("__tl").cast("decimal(38,0)")
    out = percat.agg(
        F.coalesce(F.sum("__tl"), F.lit(0)).alias("__cells"),
        F.coalesce(
            F.sum(F.col("__al").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__a"),
        F.coalesce(
            F.sum((td * td).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__b"),
        F.count(F.lit(1)).cast("int").alias("n_categories"),
    ).select(
        # __cells = N·m exactly, so the integer DIV is lossless
        F.expr(f"__cells DIV {m}").cast("decimal(38,0)").alias("__n"),
        "__a",
        "__b",
        "n_categories",
    )
    nm = (F.col("__n") * F.lit(m)).cast("decimal(38,0)")
    nm2 = (nm * nm).cast("decimal(38,0)")
    n1 = (F.col("__a") * nm - F.col("__b") * F.lit(m - 1)).cast(
        "decimal(38,0)"
    )
    d1 = ((nm2 - F.col("__b")) * F.lit(m - 1)).cast("decimal(38,0)")
    return out.select(
        F.col("__n").cast("long").alias("n_items"),
        F.lit(m).alias("m_raters"),
        "n_categories",
        F.when(
            F.col("__n") > 0,
            F.round(
                F.col("__a").cast("double")
                / (nm * F.lit(m - 1)).cast("double"),
                round_dp,
            ),
        ).alias("p_bar"),
        F.when(
            F.col("__n") > 0,
            F.round(F.col("__b").cast("double") / nm2.cast("double"), round_dp),
        ).alias("p_e"),
        F.when(
            d1 != F.lit(0),
            F.round(n1.cast("double") / d1.cast("double"), round_dp),
        ).alias("kappa"),
    )


def weighted_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
    weights: str = "quadratic",
    round_dp: int = 9,
) -> DataFrame:
    """Weighted Cohen's kappa for ORDINAL categories (Cohen 1968):
    disagreements cost by distance — ``w_ij = (i−j)²`` (quadratic, the
    ICC-equivalent default) or ``|i−j|`` (linear) — so a 5-vs-4 rating
    disagreement is nearly agreement while 5-vs-1 is maximal error.
    The ordinal-label QA statistic (quality tiers, severity grades,
    star ratings) where plain kappa throws away the scale.

      κ_w = 1 − (n · Σᵢⱼ w_ij·x_ij) / (Σᵢⱼ w_ij·rᵢ·cⱼ)

    with contingency counts x, marginals r/c. Both rater columns must
    already be integer ordinals. Same scale shape as ``cohens_kappa``:
    one k²-bounded contingency aggregation, marginal products over the
    tiny frame, exact decimal(38,0) integers divided as
    nearest-doubles. NULL kappa when the chance-weighted denominator
    is 0 (single observed category).

    Output one row: ``(n, n_classes, obs_weight, exp_weight, kappa)``
    — obs/exp are the n-normalized weighted dis-agreements (rounded),
    so ``kappa = 1 − obs/exp`` is auditable from the row itself.
    """
    if weights not in ("quadratic", "linear"):
        raise ValueError("weights must be 'quadratic' or 'linear'")

    def w(i, j):
        d = F.abs(i - j).cast("decimal(38,0)")
        return (d * d) if weights == "quadratic" else d

    a = F.col(rater_a_col).cast("long")
    b = F.col(rater_b_col).cast("long")
    cont = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("__c"))
    )
    rows = cont.groupBy("__a").agg(F.sum("__c").alias("__ra"))
    cols = cont.groupBy("__b").agg(F.sum("__c").alias("__cb"))
    num = cont.agg(
        F.coalesce(F.sum("__c"), F.lit(0).cast("decimal(38,0)")).alias("__n"),
        F.coalesce(
            F.sum(
                (w(F.col("__a"), F.col("__b")) * F.col("__c")).cast(
                    "decimal(38,0)"
                )
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__wx"),
        F.size(
            F.array_distinct(
                F.flatten(F.collect_list(F.array("__a", "__b")))
            )
        ).alias("n_classes"),
    )
    den = rows.crossJoin(cols).agg(
        F.coalesce(
            F.sum(
                (
                    w(F.col("__a"), F.col("__b"))
                    * F.col("__ra")
                    * F.col("__cb")
                ).cast("decimal(38,0)")
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__we")
    )
    out = num.crossJoin(den)
    nn = F.col("__n")
    return out.select(
        nn.cast("long").alias("n"),
        "n_classes",
        F.when(
            nn > 0,
            F.round(
                F.col("__wx").cast("double") / nn.cast("double"), round_dp
            ),
        ).alias("obs_weight"),
        F.when(
            nn > 0,
            F.round(
                F.col("__we").cast("double") / (nn * nn).cast("double"),
                round_dp,
            ),
        ).alias("exp_weight"),
        F.when(
            F.col("__we") != F.lit(0),
            F.round(
                F.lit(1.0)
                - (nn * F.col("__wx")).cast("double")
                / F.col("__we").cast("double"),
                round_dp,
            ),
        ).alias("kappa"),
    )


def brier_score(
    df: DataFrame,
    score_col: str,
    label_col: str,
    round_dp: int = 9,
) -> DataFrame:
    """Exact Brier score — mean squared error of the predicted
    probability against the boolean outcome, the proper scoring rule
    that prices calibration AND discrimination together (the summary
    partner of ``calibration_bins``' per-bin view).

    Exactness: scores live on the classifier's 1e-6 grid, so
    ``round(p·1e6)`` recovers the exact micro-unit long (the MMR
    recipe); each row's squared error ``(p_u − 1e6·y)²`` is an exact
    long ≤ 1e12 accumulated as decimal(38,0) — no float summation
    order anywhere — and ``brier = Σ / (n·1e12)`` divides exact
    integers as nearest-doubles. One conditional aggregation, no
    shuffle beyond it.

    Output one row: ``(n, n_pos, brier)`` — NULL on an empty slice.
    """
    lbl = F.col(label_col).cast("boolean")
    p_u = F.round(F.col(score_col) * F.lit(1_000_000)).cast("long")
    e = p_u - lbl.cast("long") * F.lit(1_000_000)
    agg = df.filter(F.col(score_col).isNotNull() & lbl.isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(lbl.cast("long")), F.lit(0)).alias("n_pos"),
        F.coalesce(
            F.sum((e * e).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__s"),
    )
    return agg.select(
        "n",
        "n_pos",
        F.when(
            F.col("n") > 0,
            F.round(
                F.col("__s").cast("double")
                / (F.col("n").cast("double") * F.lit(1e12)),
                round_dp,
            ),
        ).alias("brier"),
    )


def confusion_report(
    df: DataFrame,
    gold_col: str,
    pred_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Multi-class confusion report: per class, support / predicted
    count / true positives and exact precision, recall, F1 — the
    per-class breakdown that a scalar kappa or accuracy hides (a
    labeler can ace the majority class and shred a minority one).

    One k²-bounded contingency aggregation (the ``cohens_kappa``
    shape); per-class statistics come from the tiny marginal frames.
    ``f1 = 2·tp / (n_gold + n_pred)`` — the harmonic mean computed
    directly from exact integers. Classes observed only as gold or
    only as prediction still get a row (their missing side counts 0).

    Output per class: ``(cls, n_gold, n_pred, tp, precision, recall,
    f1)`` — NULL precision when never predicted, NULL recall when no
    gold support.
    """
    g = F.col(gold_col).cast("string")
    p = F.col(pred_col).cast("string")
    # Aggregate-then-filter-above-a-persist, for the cohens_kappa
    # reason: a filter on derived label columns pushes to the scan
    # (derivation inlined twice) and the contingency's four consumers
    # (classes×2, rows, cols, diag) each replayed the corpus pass.
    from pyspark import StorageLevel

    cont = (
        df.groupBy(g.alias("__g"), p.alias("__p"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cont = cont.filter(
        F.col("__g").isNotNull() & F.col("__p").isNotNull()
    )
    classes = (
        cont.select(F.col("__g").alias("cls"))
        .unionByName(cont.select(F.col("__p").alias("cls")))
        .distinct()
    )
    rows = cont.groupBy(F.col("__g").alias("cls")).agg(
        F.sum("__c").alias("n_gold")
    )
    cols = cont.groupBy(F.col("__p").alias("cls")).agg(
        F.sum("__c").alias("n_pred")
    )
    diag = (
        cont.filter(F.col("__g") == F.col("__p"))
        .select(F.col("__g").alias("cls"), F.col("__c").alias("tp"))
    )
    out = (
        classes.join(rows, "cls", "left")
        .join(cols, "cls", "left")
        .join(diag, "cls", "left")
        .select(
            "cls",
            F.coalesce("n_gold", F.lit(0)).alias("n_gold"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
    )
    return out.select(
        "cls",
        "n_gold",
        "n_pred",
        "tp",
        F.when(
            F.col("n_pred") > 0,
            F.round(F.col("tp") / F.col("n_pred"), round_dp),
        ).alias("precision"),
        F.when(
            F.col("n_gold") > 0,
            F.round(F.col("tp") / F.col("n_gold"), round_dp),
        ).alias("recall"),
        F.when(
            (F.col("n_gold") + F.col("n_pred")) > 0,
            F.round(
                F.lit(2) * F.col("tp") / (F.col("n_gold") + F.col("n_pred")),
                round_dp,
            ),
        ).alias("f1"),
    )


def conformal_coverage_binary(
    df: DataFrame,
    score_col: str,
    label_col: str,
    cal_col: str,
    alpha: float = 0.2,
    round_dp: int = 6,
) -> DataFrame:
    """Split conformal prediction for a binary classifier (Vovk et al.;
    the finite-sample coverage guarantee a quality-filter threshold
    does NOT have): calibrate the nonconformity quantile q̂ on the
    calibration split, then measure empirical coverage and mean
    prediction-set size on the held-out split.

    Nonconformity is the standard ``1 − p_y`` score (``p`` =
    ``score_col``, the predicted probability of class 1): ``s = 1 − p``
    when ``y = 1`` else ``p``. q̂ is the ``⌈(n+1)(1−α)⌉``-th smallest
    calibration score — an EXACT order statistic, selected from the
    per-distinct-score count frame by cumulative count (the ``roc_auc``
    bounded-grain argument: scores are rounded to the 1e-6 grid before
    anything orders on them, so the ordered pass runs over ≤ 1e6 + 1
    rows however many rows scored). When ``⌈(n+1)(1−α)⌉ > n`` the
    quantile is vacuous (NULL q̂) and every prediction set is {0, 1}.

    A test row is covered when its true-label score ≤ q̂; its
    prediction set contains class 1 when ``round(1−p) ≤ q̂`` and class
    0 when ``round(p) ≤ q̂`` (same rounded quantities in both engines).

    Scale shape: two aggregations over the scored frame (calibration
    score counts; test coverage sums) plus one bounded ordered pass —
    q̂ rides back onto the test side as a broadcast 1-row frame,
    nothing corpus-sized shuffles. Output is ONE row: ``(n_cal,
    n_test, q_hat, target, coverage, avg_set_size)``.
    """
    p = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    s_true = F.round(F.when(y == 1, F.lit(1.0) - p).otherwise(p), round_dp)
    base = df.filter(
        p.isNotNull() & y.isNotNull() & F.col(cal_col).isNotNull()
    ).select(
        s_true.alias("__s"),
        F.round(F.lit(1.0) - p, round_dp).alias("__s1"),
        F.round(p, round_dp).alias("__s0"),
        F.col(cal_col).cast("boolean").alias("__cal"),
    )
    per_s = (
        base.filter(F.col("__cal"))
        .groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = bounded_global_window("__s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_s.select(
        "__s",
        F.sum("__c").over(w).alias("__cum"),
        F.sum("__c").over(
            bounded_global_window("__s", F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    )
    # r = ceil((n+1)(1-alpha)); q_hat = first s whose cumulative count
    # reaches r (NULL when r > n — the vacuous small-calibration case)
    qdf = cum.filter(
        F.col("__cum") >= F.ceil((F.col("__n") + 1) * F.lit(1.0 - alpha))
    ).agg(F.min("__s").alias("__qhat"))
    n_cal_df = per_s.agg(F.sum("__c").alias("__n_cal"))
    test = base.filter(~F.col("__cal"))
    out = (
        test.crossJoin(F.broadcast(qdf))
        .crossJoin(F.broadcast(n_cal_df))
        .agg(
            F.first("__n_cal").alias("n_cal"),
            F.count(F.lit(1)).alias("n_test"),
            F.first("__qhat").alias("q_hat"),
            F.round(
                F.sum(
                    F.when(
                        F.col("__qhat").isNull()
                        | (F.col("__s") <= F.col("__qhat")),
                        1,
                    ).otherwise(0)
                )
                / F.count(F.lit(1)),
                round_dp,
            ).alias("coverage"),
            F.round(
                F.sum(
                    F.when(
                        F.col("__qhat").isNull()
                        | (F.col("__s1") <= F.col("__qhat")),
                        1,
                    ).otherwise(0)
                    + F.when(
                        F.col("__qhat").isNull()
                        | (F.col("__s0") <= F.col("__qhat")),
                        1,
                    ).otherwise(0)
                )
                / F.count(F.lit(1)),
                round_dp,
            ).alias("avg_set_size"),
        )
        .select(
            "n_cal",
            "n_test",
            "q_hat",
            F.lit(round(1.0 - alpha, 6)).alias("target"),
            "coverage",
            "avg_set_size",
        )
    )
    return out


def krippendorff_alpha_nominal(
    df: DataFrame,
    rater_cols: Sequence[str],
    round_dp: int = 9,
) -> DataFrame:
    """Krippendorff's alpha for NOMINAL data with complete ratings —
    the agreement coefficient that generalizes the kappa family to any
    number of raters with a principled chance correction (Krippendorff
    2004). Items with any NULL rating are excluded (the complete-data
    case; m is constant).

    With per-item category counts ``n_uc`` (m raters, n items,
    N = n·m total ratings, pooled marginals ``n_c``):

    - observed disagreeing ordered pairs
      ``Do_pairs = Σ_u [m(m−1) − Σ_c n_uc(n_uc−1)]``
    - ``alpha = 1 − Do_pairs·(N−1) / ((m−1)·(N² − Σ_c n_c²))``

    Every term is an exact integer until the single final division, so
    the statistic is bit-reproducible across engines and partition
    layouts (the ``fleiss_kappa`` discipline). Scale shape: ONE scan —
    a row-wise array projection builds the per-item counts (no shuffle
    keyed on the item), the item-grain terms ride the pos-0 cell of
    one posexplode, and a category-bounded aggregation recovers both
    the marginals and the item totals (one tiny shuffle).
    """
    m = len(rater_cols)
    if m < 2:
        raise ValueError("krippendorff_alpha_nominal needs ≥ 2 raters")
    cond = None
    for c in rater_cols:
        k = F.col(c).isNotNull()
        cond = k if cond is None else (cond & k)
    arr = F.array(*[F.col(c).cast("string") for c in rater_cols])
    # Incomplete items are dropped by CONDITIONAL ARRAY, not by
    # .filter(): a filter on rater columns derived from heavy caller
    # expressions is pushed by Catalyst below any spread/repartition
    # exchange with the whole derivation inlined — the entire labeling
    # pipeline then runs single-task on a one-row-group scan AND again
    # above the exchange (guide §4.4's duplicated-evaluation shape in
    # pure JVM). An empty array explodes to zero cells, so incomplete
    # items contribute nothing to any aggregate — same rows, no
    # pushable Filter node.
    lab = df.select(
        F.when(cond, arr)
        .otherwise(F.expr("CAST(array() AS array<string>)"))
        .alias("__r")
    )
    # per-item Σ_c n_uc(n_uc−1): for each distinct category in the
    # row, count occurrences — an array expression, never a shuffle
    per_item = lab.select(
        F.expr(
            "aggregate(array_distinct(__r), 0L, (acc, cat) -> acc + "
            "CAST(size(filter(__r, x -> x = cat)) AS LONG) * "
            "(size(filter(__r, x -> x = cat)) - 1))"
        ).alias("__same_pairs"),
        F.col("__r"),
    )
    # ONE corpus pass (r12 — was two: a row-grain agg for n/Do plus a
    # separate explode for the category marginals, each replaying the
    # caller's full labeling pipeline; on a single-row-group scan that
    # serialized the heavy per-row expression work twice). The
    # fleiss_kappa trick: posexplode to the n·m category cells, charge
    # each item's row-grain contributions (its existence for n, its
    # __same_pairs for Do) to its pos-0 cell only, reduce on the tiny
    # category grain, then one scalar combine. Same exact integers,
    # same output schema/rounding — oracle-proven, not assumed.
    # posexplode_OUTER + pos-not-null: a plain posexplode makes
    # Catalyst infer `size(__r) > 0 AND isnotnull(__r)` (rule
    # InferFiltersFromGenerate) and push it below the caller's spread
    # exchange with the whole labeling derivation inlined — the exact
    # single-task duplicate-evaluation this rewrite removes. The outer
    # variant infers nothing; empty arrays emit one (NULL, NULL) row
    # dropped by a filter on the GENERATED column (not pushable below
    # the Generate). Row-identical to posexplode.
    cells = per_item.select(
        F.posexplode_outer("__r").alias("__pos", "__cat"), "__same_pairs"
    ).filter(F.col("__pos").isNotNull())
    at0 = F.col("__pos") == 0
    percat = cells.groupBy("__cat").agg(
        F.count(F.lit(1)).alias("__t"),
        F.sum(F.when(at0, 1).otherwise(0)).alias("__np"),
        F.sum(
            F.when(at0, F.col("__same_pairs")).otherwise(F.lit(0).cast("long"))
        ).alias("__sp"),
    )
    tot = percat.agg(
        # coalesce: count() on the old row-grain agg yielded 0 on an
        # empty input where sum() yields NULL
        F.coalesce(F.sum("__np"), F.lit(0).cast("long")).alias("__n"),
        (
            F.lit(m * (m - 1)) * F.sum("__np") - F.sum("__sp")
        ).alias("__do_pairs"),
        F.sum(F.col("__t") * F.col("__t")).alias("__sum_t2"),
        F.count(F.lit(1)).alias("n_categories"),
    )
    big = F.col("__n") * F.lit(m)  # N
    return (
        tot
        .select(
            F.col("__n").alias("n_items"),
            F.lit(m).alias("m_raters"),
            F.col("n_categories").cast("int").alias("n_categories"),
            F.col("__do_pairs").alias("do_pairs"),
            F.when(
                (F.lit(m - 1) * (big * big - F.col("__sum_t2"))) != 0,
                F.round(
                    F.lit(1.0)
                    - (F.col("__do_pairs") * (big - 1)).cast("double")
                    / (F.lit(m - 1) * (big * big - F.col("__sum_t2"))).cast(
                        "double"
                    ),
                    round_dp,
                ),
            ).alias("alpha"),
        )
    )


# truncated-Poisson(1) bootstrap weight pmf: P(0)=P(1)=e^-1,
# P(2)=e^-1/2, P(3)=rest — the Poisson bootstrap's per-row draw,
# deterministic via md5 bands (engine-portable like every sampler)
_BOOT_PMF_CUM = (
    0.36787944117144233,            # e^-1
    0.7357588823428846,             # 2·e^-1
    0.9196986029286058,             # + e^-1/2
)


def _boot_digests_col(key_col: str, salt: str, b_n: int):
    """Concatenated md5 digests covering ``b_n`` resample bands — the
    per-ROW cost of the Poisson-bootstrap weights (⌈B/4⌉ digests; each
    digest serves four 8-hex bands, decoded by
    ``_boot_weight_from_digests``).
    Computing the digests once per row and DECODING per exploded
    (row, resample) pair is the ``paired_permutation_test`` recipe:
    the projection stays O(1) columns wide, so Catalyst analysis and
    the aggregate buffer are independent of B and whole-stage codegen
    fires (B weight COLUMNS put 2(B+1) sums in one aggregate buffer,
    over spark.sql.codegen.maxFields — the whole pipeline ran
    interpreted)."""
    return F.concat(
        *[
            F.md5(
                F.concat(
                    F.lit(f"{salt}:{j}:"), F.col(key_col).cast("string")
                )
            )
            for j in range((b_n + 3) // 4)
        ]
    )


def _boot_weight_from_digests(b_expr, digests_col: str = "__d"):
    """Decode resample ``b``'s ~Poisson(1) replication weight (Chamandy
    et al. 2012 truncated pmf) from the concatenated digests: four
    independent 8-hex bands per md5 digest — resample b reads slice
    (b mod 4) of digest (b div 4), i.e. chars
    [32·(b div 4) + 8·(b mod 4) + 1, +8). Deterministic,
    partition-invariant, bit-replayable in the oracle."""
    t0, t1, t2 = (_threshold_hex_cached(x) for x in _BOOT_PMF_CUM)
    u = F.substring(
        F.col(digests_col),
        (
            F.lit(1)
            + F.lit(32) * (b_expr / 4).cast("int")
            + F.lit(8) * (b_expr % 4)
        ).cast("int"),
        8,
    )
    return (
        F.when(u < t0, F.lit(0))
        .when(u < t1, F.lit(1))
        .when(u < t2, F.lit(2))
        .otherwise(F.lit(3))
        .cast("long")
    )


def _threshold_hex_cached(x: float) -> str:
    from icnarc_to_philips_linkage_spark.operators.sampling import (
        _threshold_hex,
    )

    return _threshold_hex(x)


def auc_bootstrap_ci(
    df: DataFrame,
    score_col: str,
    label_col: str,
    key_col: str,
    n_resamples: int = 20,
    salt: str = "boot",
    round_dp: int = 9,
) -> DataFrame:
    """Bootstrap confidence interval for ROC AUC in ONE corpus pass
    (Poisson bootstrap, Chamandy et al. 2012 — the resampling scheme
    built for map-reduce: each row draws an independent ~Poisson(1)
    replication weight per resample, so B resamples need B weight
    columns, not B data passes). Weights are md5-band draws from a
    truncated-Poisson pmf — deterministic, partition-invariant, and
    bit-replayable in the oracle.

    Every resample's AUC uses the tie-aware integer rank-sum form on
    the same bounded distinct-score grain as ``roc_auc`` (weighted
    counts replace counts; the identity survives multiplicity), so
    the whole computation is: one (score)-grain aggregation carrying
    2(B+1) exact sums, one bounded ordered pass for the B+1
    cumulatives, one final aggregation, and an order-statistic pick
    from the sorted B AUCs. At 100 TB that is the SAME plan shape as
    a single AUC.

    Output one row: ``(n_resamples, auc, ci_lo, ci_hi, auc_med)`` —
    ci bounds are the min/max order statistics (the 2.5/97.5%
    percentile indexes at B=20), auc_med the B/2-th.

    Round-12 shape (guide §1.2/§4 analog of the
    ``paired_permutation_test`` rewrite): resamples are ROWS, not
    columns. Each row carries its ⌈B/4⌉ concatenated md5 digests,
    posexplodes B+1 (resample, weight) pairs (index 0 = the observed
    sample at weight 1), and the whole computation is a narrow
    (resample, score)-grain aggregation, ONE running-count window
    partitioned BY RESAMPLE (B+1-way parallel where the column form
    was a single bounded pass carrying 2(B+1) running sums), a
    per-resample rank-sum aggregate, and a scalar order-statistic
    fold. Arithmetic identical (exact long/decimal sums, same bands,
    same rounding); the aggregate buffers are O(1) in B so codegen
    fires — the 2(B+1)-sum buffers exceeded
    spark.sql.codegen.maxFields and ran interpreted.
    """
    b_n = n_resamples
    p = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")

    base = df.filter(
        p.isNotNull() & y.isNotNull() & F.col(key_col).isNotNull()
    ).select(
        p.alias("__s"),
        y.alias("__y"),
        _boot_digests_col(key_col, salt, b_n).alias("__d"),
    )
    perb = _boot_auc_by_resample(base, "__s", b_n, round_dp)
    INF = F.lit(float("inf"))
    agg = perb.agg(
        F.max(F.when(F.col("__b") == 0, F.col("__auc"))).alias("__auc0"),
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("__b") > 0, F.coalesce("__auc", INF)
                )
            )
        ).alias("__arr"),
    )

    def pick(i: int):
        el = F.element_at("__arr", i)
        return F.when(el != INF, el)

    return agg.select(
        F.lit(b_n).alias("n_resamples"),
        F.col("__auc0").alias("auc"),
        pick(1).alias("ci_lo"),
        pick(b_n).alias("ci_hi"),
        pick(b_n // 2).alias("auc_med"),
    )


def _boot_auc_by_resample(
    base: DataFrame,
    score_col: str,
    b_n: int,
    round_dp: int = 9,
) -> DataFrame:
    """(resample, AUC) rows for a digest-carrying weighted base:
    explode B+1 (b, w) pairs (b=0 observed, w=1), aggregate the
    (b, score) grain with exact long sums, cumulate the below-score
    count with a per-resample window, and reduce each resample to the
    tie-aware integer rank-sum AUC. Shared by ``auc_bootstrap_ci``
    and ``paired_bootstrap_delta_auc`` (each scorer = one call)."""
    ex = base.select(
        F.col(score_col).alias("__s"),
        "__y",
        "__d",
        F.explode(F.sequence(F.lit(0), F.lit(b_n))).alias("__b"),
    ).select(
        "__s",
        "__y",
        "__b",
        F.when(F.col("__b") == 0, F.lit(1).cast("long"))
        .otherwise(_boot_weight_from_digests(F.col("__b") - 1))
        .alias("__w"),
    )
    per = ex.groupBy("__b", "__s").agg(
        F.sum("__w").alias("__c"),
        F.sum(F.col("__w") * F.col("__y")).alias("__p"),
    )
    w = Window.partitionBy("__b").orderBy("__s").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.select(
        "*", (F.sum("__c").over(w) - F.col("__c")).alias("__lo")
    )
    # factors cast BEFORE multiplying (the roc_auc overflow rule: the
    # long product wraps silently once n_pos·n ≈ 2^63)
    rs2 = F.sum(
        F.col("__p").cast("decimal(38,0)")
        * (2 * F.col("__lo") + F.col("__c") + 1).cast("decimal(38,0)")
    )
    perb = cum.groupBy("__b").agg(
        F.sum("__p").alias("__npos"),
        F.sum("__c").alias("__n"),
        rs2.alias("__rs2"),
    )
    np_ = F.col("__npos").cast("decimal(38,0)")
    auc = F.when(
        (F.col("__npos") > 0) & ((F.col("__n") - F.col("__npos")) > 0),
        F.round(
            (F.col("__rs2") - np_ * (np_ + 1)).cast("double")
            / (
                F.lit(2.0)
                * F.col("__npos")
                * (F.col("__n") - F.col("__npos"))
            ),
            round_dp,
        ),
    )
    return perb.select("__b", auc.alias("__auc"))


def paired_bootstrap_delta_auc(
    df: DataFrame,
    score1_col: str,
    score2_col: str,
    label_col: str,
    key_col: str,
    n_resamples: int = 20,
    salt: str = "boot",
    round_dp: int = 9,
) -> DataFrame:
    """Paired Poisson-bootstrap CI for ΔAUC = AUC₁ − AUC₂ of two
    scorers evaluated on the SAME rows — the resampling cross-check
    of ``delong_paired_auc_test`` (round-10 verdict task #5): DeLong
    gives the asymptotic z; this brackets the same difference with
    the ``auc_bootstrap_ci`` machinery.

    PAIRED means each row draws ONE ~Poisson(1) replication weight
    per resample (md5-band, keyed by ``key_col``+``salt``) and that
    weight applies to BOTH scorers, so replicate b's two AUCs see the
    identical resampled population and their difference is a true
    paired draw. Rows must carry both scores (either NULL drops the
    pair — the DeLong pairing contract).

    Scale shape: the weighted corpus reduces on each scorer's OWN
    bounded distinct-score grain (two passes — the joint (s1, s2)
    grid could be grid² on unrelated scorers, so we don't require a
    joint-grid contract), each pass the exact plan of one
    ``auc_bootstrap_ci``; the two 1-row aggregates broadcast-join and
    the B deltas sort in one array expression.

    Output one row: ``(n_resamples, auc_1, auc_2, delta_auc, ci_lo,
    ci_hi, delta_med)`` — ci bounds are the min/max order statistics
    at B=20 (2.5/97.5% indexes), delta_med the B/2-th.

    Round-12 shape: resamples are ROWS (``_boot_auc_by_resample``,
    the ``auc_bootstrap_ci`` rewrite) — each scorer reduces its
    shared digest-carrying base to B+1 (resample, AUC) rows, the two
    sides join ON RESAMPLE (the paired draw), and one scalar fold
    sorts the B deltas. Same exact arithmetic and md5 bands; the
    3(B+1)-sum aggregate buffers that ran interpreted are gone.
    """
    b_n = n_resamples
    s1 = F.col(score1_col).cast("double")
    s2 = F.col(score2_col).cast("double")
    y = F.col(label_col).cast("int")
    from pyspark import StorageLevel

    base = df.filter(
        s1.isNotNull()
        & s2.isNotNull()
        & y.isNotNull()
        & F.col(key_col).isNotNull()
    ).select(
        s1.alias("__s1"),
        s2.alias("__s2"),
        y.alias("__y"),
        _boot_digests_col(key_col, salt, b_n).alias("__d"),
    )
    # both scorers' passes consume the SAME weighted base (scores,
    # label, ⌈B/4⌉ md5 digests): persist so the upstream scan/score
    # projection and the digests compute once, not twice (guide §5
    # reuse rule)
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    a1 = _boot_auc_by_resample(base, "__s1", b_n, round_dp)
    a2 = _boot_auc_by_resample(base, "__s2", b_n, round_dp).select(
        "__b", F.col("__auc").alias("__auc2")
    )
    both = a1.join(a2, "__b")
    INF = F.lit(float("inf"))
    agg = both.agg(
        F.max(F.when(F.col("__b") == 0, F.col("__auc"))).alias("__a1"),
        F.max(F.when(F.col("__b") == 0, F.col("__auc2"))).alias("__a2"),
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("__b") > 0,
                    F.coalesce(
                        F.round(
                            F.col("__auc") - F.col("__auc2"), round_dp
                        ),
                        INF,
                    ),
                )
            )
        ).alias("__arr"),
    )

    def pick(i: int):
        el = F.element_at("__arr", i)
        return F.when(el != INF, el)

    return agg.select(
        F.lit(b_n).alias("n_resamples"),
        F.col("__a1").alias("auc_1"),
        F.col("__a2").alias("auc_2"),
        F.round(F.col("__a1") - F.col("__a2"), round_dp).alias(
            "delta_auc"
        ),
        pick(1).alias("ci_lo"),
        pick(b_n).alias("ci_hi"),
        pick(b_n // 2).alias("delta_med"),
    )


def paired_permutation_test(
    df: DataFrame,
    value_a_col: str,
    value_b_col: str,
    key_col: str,
    n_resamples: int = 64,
    salt: str = "perm",
    round_dp: int = 9,
) -> DataFrame:
    """Paired two-sample permutation (sign-flip randomization) test:
    under H0 the pair difference d = a - b is symmetric about 0, so
    every sign pattern s in {-1, +1}^n is equally likely. Each
    resample draws INDEPENDENT per-pair signs - for the PAIRED design
    that IS the exact permutation scheme (the 2^n sign patterns are
    the orbit; no fixed-margin machinery is needed, unlike the
    unpaired relabeling test). Signs are md5 hex-digit bits keyed by
    (salt, b//32, key) with resample b reading digit b%32 - the
    Poisson-bootstrap band discipline (_boot_weight_from_digests) at 1 bit:
    deterministic, partition-invariant, bit-replayable in the oracle.

    T = sum(d_i) on the 1e-6 integer grid (exact decimal sums); the
    two-sided p compares |T_b| >= |T_obs| as exact integers - no
    float comparison anywhere - with the add-one Monte-Carlo
    estimator p = (1 + #{b: |T_b| >= |T_obs|}) / (B + 1).

    Scale shape: ONE corpus pass - each row posexplodes its B signed
    contributions and a map-combined aggregation reduces them to
    (salt-group, resample) exact LONG partials (all-long and plan-
    narrow, so codegen fires and Catalyst analysis stays O(1) in B);
    two bounded aggregations above (per-resample decimal(38,0) sums,
    then one scalar row) finish the exact two-level summation - no
    float drift, overflow bounded per cell. The comparison folds over
    the collected B-element array on the single output row.

    Output one row: ``(n_pairs, n_resamples, mean_diff, p_value)`` -
    mean_diff/p NULL when n = 0.
    """
    b_n = n_resamples
    a = F.col(value_a_col).cast("double")
    b = F.col(value_b_col).cast("double")

    def q6(v):
        # exact integer on the 1e-6 grid; the double is integral and
        # < 2^53 so the long cast is lossless (same value the old
        # decimal(38,0) cast produced)
        return (
            F.signum(v) * F.floor(F.abs(v) * F.lit(1e6) + F.lit(0.5))
        ).cast("long")

    # Corpus pass kept ALL-LONG and PLAN-NARROW (r12, guide §1.2/§2.3):
    # the original B decimal(38,0) sum columns put 131 fields in the
    # aggregate buffer — over spark.sql.codegen.maxFields, so the whole
    # scan→project→agg pipeline ran interpreted (32 s at sf0.1 for a
    # 600k-row scalar aggregate) — and a 64-column when() projection
    # costs ~2.5 s of Catalyst analysis per call. Instead each row
    # posexplodes its B signed contributions (a transform over the
    # concatenated md5 hex digits — one md5 per 32 resamples, computed
    # once), and three bounded aggregations reduce them:
    #   (salt-group, resample) long partials → per-resample decimal
    #   sums → one scalar row. Long partials stay exact because each
    #   (group, resample) cell sees rows/n_groups inputs (1024 groups:
    #   a 1e12-row corpus of 1e-6-grid values of O(1e3) magnitude
    #   stays under 2^63); the decimal combine above is overflow-free.
    # Same exact integers, same outputs; both post-corpus exchanges
    # carry ≤ n_groups·B tiny rows.
    n_groups = 1024
    key_s = F.col(key_col).cast("string")
    n_digests = (b_n + 31) // 32
    base = df.filter(
        a.isNotNull() & b.isNotNull() & F.col(key_col).isNotNull()
    ).select(
        (q6(a) - q6(b)).alias("__d"),
        F.pmod(F.xxhash64(key_s), F.lit(n_groups)).alias("__g"),
        F.concat(
            *[
                F.md5(F.concat(F.lit(f"{salt}:{j}:"), key_s))
                for j in range(n_digests)
            ]
        ).alias("__hx"),
    )
    # resample i reads hex digit i%32 of digest i//32 == digit i of
    # the concatenation; sign + when digit < '8' (same schedule as
    # the original per-column form)
    sd = F.transform(
        F.slice(F.split(F.col("__hx"), ""), 1, b_n),
        lambda ch: F.when(ch < F.lit("8"), F.col("__d")).otherwise(
            -F.col("__d")
        ),
    )
    cells = base.select(
        "__g", "__d", F.posexplode(sd).alias("__i", "__sd")
    )
    partial = cells.groupBy("__g", "__i").agg(
        F.sum("__sd").alias("__ti"),
        # T_obs and the pair count ride each row's resample-0 cell so
        # ONE pass carries everything
        F.sum(
            F.when(F.col("__i") == 0, F.col("__d")).otherwise(F.lit(0))
        ).alias("__tp"),
        F.count(F.when(F.col("__i") == 0, F.lit(1))).alias("__np"),
    )
    per_i = partial.groupBy("__i").agg(
        F.sum(F.col("__ti").cast("decimal(38,0)")).alias("__tb"),
        F.sum(F.col("__tp").cast("decimal(38,0)")).alias("__tpart"),
        F.sum("__np").alias("__npart"),
    )
    agg = per_i.agg(
        F.coalesce(F.sum("__npart"), F.lit(0)).cast("long").alias("__n"),
        F.sum("__tpart").alias("__t"),
        F.collect_list("__tb").alias("__arr"),
    )
    cnt = F.size(
        F.filter(
            F.col("__arr"), lambda t: F.abs(t) >= F.abs(F.col("__t"))
        )
    )
    ok = F.col("__n") > 0
    return agg.select(
        F.col("__n").cast("long").alias("n_pairs"),
        F.lit(b_n).cast("long").alias("n_resamples"),
        F.round(
            F.when(
                ok,
                F.col("__t").cast("double")
                / F.lit(1e6)
                / F.col("__n").cast("double"),
            ),
            round_dp,
        ).alias("mean_diff"),
        F.round(
            F.when(
                ok,
                (F.lit(1) + cnt).cast("double")
                / F.lit(float(b_n + 1)),
            ),
            round_dp,
        ).alias("p_value"),
    )


def mcc_at_threshold(
    df: DataFrame,
    score_col: str,
    label_col: str,
    threshold: float = 0.5,
    round_dp: int = 9,
) -> DataFrame:
    """Matthews correlation coefficient at a decision threshold — the
    single-number binary-classifier summary that stays honest under
    class imbalance (accuracy and F1 both inflate on skewed labels;
    MCC is the full-confusion-matrix correlation):
    ``MCC = (tp·tn − fp·fn) / sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn))``.

    One conditional aggregation to the four exact counts; numerator
    and the four marginal factors stay exact integers
    (decimal(38,0) — products reach n² and n⁴), with ONE final
    sqrt+division on deterministically-cast doubles. NULL when any
    marginal is empty (MCC undefined).
    """
    pred = F.col(score_col).cast("double") >= F.lit(float(threshold))
    y = F.col(label_col).cast("boolean")
    conf = df.filter(
        F.col(score_col).isNotNull() & y.isNotNull()
    ).agg(
        F.sum((pred & y).cast("long")).alias("tp"),
        F.sum((pred & ~y).cast("long")).alias("fp"),
        F.sum((~pred & y).cast("long")).alias("fn"),
        F.sum((~pred & ~y).cast("long")).alias("tn"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = d("tp") * d("tn") - d("fp") * d("fn")
    f1_ = d("tp") + d("fp")
    f2_ = d("tp") + d("fn")
    f3_ = d("tn") + d("fp")
    f4_ = d("tn") + d("fn")
    return conf.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            (f1_ > 0) & (f2_ > 0) & (f3_ > 0) & (f4_ > 0),
            F.round(
                num.cast("double")
                / F.sqrt(
                    (f1_ * f2_).cast("double")
                    * (f3_ * f4_).cast("double")
                ),
                round_dp,
            ),
        ).alias("mcc"),
    )


def _probe_driver_bounded(df: DataFrame, limit: int, what: str) -> None:
    """Pre-collect guard for the driver-loop operators: count at most
    ``limit + 1`` rows of an aggregated frame engine-side (a LIMIT
    probe — Spark stops the scan as soon as limit+1 rows surface) and
    raise BEFORE any ``.collect()``, so a contract-violating input can
    never materialize an unbounded frame on the driver. Round-11
    hardening of the round-10 ``max_items``/``max_patterns`` guards,
    which only checked after collecting."""
    n = df.limit(limit + 1).count()
    if n > limit:
        raise ValueError(
            f"{what} exceeds the driver-bounded contract "
            f"(> {limit} rows in the aggregated frame); refusing to "
            "collect"
        )


def bradley_terry_strengths(
    pairs: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    items: list[str] | None = None,
    iters: int = 12,
    round_dp: int = 9,
    max_items: int = 256,
) -> DataFrame:
    """Bradley-Terry preference aggregation (Bradley & Terry 1952;
    Hunter 2004's MM iteration): pairwise win/loss outcomes over a
    bounded item set -> per-item strengths with ``P(i beats j) =
    p_i / (p_i + p_j)`` — the preference-data analog of
    ``fs_em_estimate`` (RLHF preference pairs, ranker battles,
    A/B tournaments -> one strength scale).

    Scale shape (the FS-EM / ev_markov_steady discipline): the corpus
    of comparisons collapses to the (winner, loser) count matrix in
    ONE map-combined aggregation — at most ``|items|²`` cells, a
    driver-bounded frame by contract (``max_items`` guards the
    collect) — then ``iters`` synchronous MM updates run on the
    driver as deterministic float expressions in fixed item order:

        D_i = Σ_{j≠i} g_ij / (p_i + p_j)      (g_ij = games i vs j)
        p_i' = w_i / D_i   (D_i = 0 -> carry p_i)
        p_i'' = p_i' / Σ_{gamed items} p_j'   (renormalize each iter)

    All sums left-associate in ascending item order, so every
    iteration replays bit-identically in an unrolled SQL oracle.
    Items with zero games stay out of the normalizer and report NULL
    strength; rows for ties / self-pairs must be filtered by the
    caller (winner == loser raises here).

    If ``items`` is None the item set is the sorted distinct ids seen
    in the data; passing it explicitly pins the output rows (and the
    oracle's literal columns) at every scale factor.

    Output: one row per item, ``(item, n_wins, n_games, strength)``;
    strengths of gamed items sum to 1 on the ``round_dp`` grid.
    """
    import math

    grouped = (
        pairs.filter(
            F.col(winner_col).isNotNull() & F.col(loser_col).isNotNull()
        )
        .groupBy(
            F.col(winner_col).cast("string").alias("__w"),
            F.col(loser_col).cast("string").alias("__l"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    _probe_driver_bounded(
        grouped.select(F.col("__w").alias("__i"))
        .union(grouped.select(F.col("__l").alias("__i")))
        .distinct(),
        max_items,
        f"distinct items (max_items={max_items})",
    )
    counts_rows = grouped.collect()
    c: dict[tuple[str, str], int] = {}
    seen: set[str] = set()
    for r in counts_rows:
        if r["__w"] == r["__l"]:
            raise ValueError(
                f"self-pair {r['__w']!r}: filter ties before calling"
            )
        c[(r["__w"], r["__l"])] = int(r["__c"])
        seen.add(r["__w"])
        seen.add(r["__l"])
    its = list(items) if items is not None else sorted(seen)
    if len(its) > max_items:
        raise ValueError(
            f"{len(its)} items exceeds max_items={max_items}; the "
            "count matrix must stay driver-bounded"
        )
    extra = seen - set(its)
    if extra:
        raise ValueError(f"data contains items outside `items`: {extra}")
    k = len(its)
    w = [0] * k
    games = [[0] * k for _ in range(k)]
    for i in range(k):
        for j in range(k):
            if i != j:
                cij = c.get((its[i], its[j]), 0)
                w[i] += cij
                games[i][j] = cij + c.get((its[j], its[i]), 0)
    n_games = [sum(games[i]) for i in range(k)]
    p = [1.0] * k
    for _ in range(iters):
        nxt = list(p)
        for i in range(k):
            d = 0.0
            for j in range(k):
                if j != i and games[i][j]:
                    d = d + float(games[i][j]) / (p[i] + p[j])
            if d != 0.0:
                nxt[i] = float(w[i]) / d
        s = 0.0
        for i in range(k):
            if n_games[i]:
                s = s + nxt[i]
        if s != 0.0:
            for i in range(k):
                nxt[i] = nxt[i] / s
        p = nxt
    scale = 10.0**round_dp

    def _q(x: float) -> float:
        return math.floor(x * scale + 0.5) / scale

    rows = [
        (
            its[i],
            w[i],
            n_games[i],
            _q(p[i]) if n_games[i] else None,
        )
        for i in range(k)
    ]
    return pairs.sparkSession.createDataFrame(
        rows, "item string, n_wins long, n_games long, strength double"
    )


def mcnemar_test(
    df: DataFrame,
    pred1_col,
    pred2_col,
    label_col: str,
    corrected: bool = True,
    round_dp: int = 9,
) -> DataFrame:
    """McNemar's test for PAIRED classifiers (McNemar 1947): did
    classifier 1 and classifier 2 — scoring the SAME rows — differ
    beyond noise? Only the discordant cells carry information:
    ``b`` = rows only classifier 1 got right, ``c`` = rows only
    classifier 2 got right; ``χ² = (|b−c|−1)² / (b+c)`` (continuity-
    corrected by default, the Edwards form; ``corrected=False`` gives
    the classic ``(b−c)²/(b+c)``), 1 df.

    ONE conditional aggregation to the four exact paired-confusion
    counts; χ² is a single integer-ratio division. NULL χ² when
    b + c = 0 (no discordant pairs — the test is undefined, the
    classifiers agree everywhere).

    Output: ``(n, n_both, n_only1, n_only2, n_neither, chi2)``.
    """
    p1 = (
        F.col(pred1_col) if isinstance(pred1_col, str) else pred1_col
    ).cast("boolean")
    p2 = (
        F.col(pred2_col) if isinstance(pred2_col, str) else pred2_col
    ).cast("boolean")
    y = F.col(label_col).cast("boolean")
    r1 = p1 == y
    r2 = p2 == y
    agg = df.filter(
        p1.isNotNull() & p2.isNotNull() & y.isNotNull()
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((r1 & r2).cast("long")).alias("n_both"),
        F.sum((r1 & ~r2).cast("long")).alias("n_only1"),
        F.sum((~r1 & r2).cast("long")).alias("n_only2"),
        F.sum((~r1 & ~r2).cast("long")).alias("n_neither"),
    )
    b, c = F.col("n_only1"), F.col("n_only2")
    if corrected:
        num = (F.abs(b - c) - 1) * (F.abs(b - c) - 1)
    else:
        num = (b - c) * (b - c)
    return agg.select(
        "n",
        "n_both",
        "n_only1",
        "n_only2",
        "n_neither",
        F.when(
            b + c > 0,
            F.round(num.cast("double") / (b + c).cast("double"), round_dp),
        ).alias("chi2"),
    )


def delong_paired_auc(
    df: DataFrame,
    score1_col,
    score2_col,
    label_col: str,
    round_dp: int = 9,
) -> DataFrame:
    """DeLong paired-AUC comparison (DeLong, DeLong & Clarke-Pearson
    1988): are two classifiers' AUCs on the SAME rows different beyond
    noise? The correlation between the two score columns (they saw the
    same data) is what naive ±stderr bands ignore; DeLong estimates it
    from per-observation placement values.

    Integer form, riding the ``roc_auc`` distinct-score-grain
    machinery: for classifier k, a positive row's placement numerator
    is ``u_k = 2·(negatives strictly below its score) + (negatives
    tied)`` and a negative row's is ``v_k = 2·(positives strictly
    above) + (positives tied)`` — exact integers read off each score
    grid's cumulative counts (the grids are bounded by the score
    emission grid, the roc_auc contract, and broadcast back to the
    rows). Then ONE conditional aggregation collects the exact sums
    Σu_k, Σu_k², Σu₁u₂ over positives and Σv_k, Σv_k², Σv₁v₂ over
    negatives (decimal(38,0) — u ≤ 2n so u² sums pass 2^63 early),
    and the DeLong covariance algebra

        S10[k,l] = (Σu_k u_l − Σu_k·Σu_l/m) / ((m−1)·(2n)²)
        S01[k,l] = (Σv_k v_l − Σv_k·Σv_l/n) / ((n−1)·(2m)²)
        Var(Δ)   = (S10[1,1]+S10[2,2]−2S10[1,2])/m
                 + (S01[1,1]+S01[2,2]−2S01[1,2])/n
        z        = (AUC₁ − AUC₂) / sqrt(Var(Δ))

    runs as one deterministic expression tree over those integers —
    no data-order-dependent float accumulation anywhere, so the whole
    statistic replays bit-exactly in the SQL oracle.

    Output: one row ``(n_pos, n_neg, auc1, auc2, delta_auc,
    var_delta, z)`` — z NULL when either class has < 2 rows or
    Var(Δ) ≤ 0 (identical rankings).
    """
    s1 = F.col(score1_col) if isinstance(score1_col, str) else score1_col
    s2 = F.col(score2_col) if isinstance(score2_col, str) else score2_col
    y = F.col(label_col).cast("boolean")
    base = df.filter(
        s1.isNotNull() & s2.isNotNull() & y.isNotNull()
    ).select(s1.alias("__s1"), s2.alias("__s2"), y.alias("__y"))

    def grain(col: str, tag: str) -> DataFrame:
        g = base.groupBy(F.col(col).alias(f"__g{tag}")).agg(
            F.sum(F.col("__y").cast("long")).alias("__p"),
            F.sum((~F.col("__y")).cast("long")).alias("__q"),
        )
        w = bounded_global_window(f"__g{tag}").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )  # the grain is the score grid
        return g.select(
            f"__g{tag}",
            (F.sum("__q").over(w) - F.col("__q")).alias(f"__qlt{tag}"),
            F.col("__q").alias(f"__qeq{tag}"),
            (F.sum("__p").over(w) - F.col("__p")).alias(f"__plt{tag}"),
            F.col("__p").alias(f"__peq{tag}"),
        )

    g1, g2 = grain("__s1", "1"), grain("__s2", "2")
    tot = base.agg(
        F.sum(F.col("__y").cast("long")).alias("__m"),
        F.sum((~F.col("__y")).cast("long")).alias("__n"),
    )
    rows = (
        base.join(F.broadcast(g1), base["__s1"] == g1["__g1"])
        .join(F.broadcast(g2), base["__s2"] == g2["__g2"])
        .crossJoin(F.broadcast(tot))
    )
    u1 = 2 * F.col("__qlt1") + F.col("__qeq1")
    u2 = 2 * F.col("__qlt2") + F.col("__qeq2")
    v1 = 2 * (F.col("__m") - F.col("__plt1") - F.col("__peq1")) + F.col(
        "__peq1"
    )
    v2 = 2 * (F.col("__m") - F.col("__plt2") - F.col("__peq2")) + F.col(
        "__peq2"
    )
    d = lambda e: e.cast("decimal(38,0)")  # noqa: E731
    pos, neg = F.col("__y"), ~F.col("__y")
    zero = F.lit(0).cast("decimal(38,0)")
    agg = rows.agg(
        F.sum(pos.cast("long")).alias("m"),
        F.sum(neg.cast("long")).alias("n"),
        *[
            F.sum(F.when(cond, expr).otherwise(zero)).alias(name)
            for cond, expr, name in [
                (pos, d(u1), "su1"),
                (pos, d(u2), "su2"),
                (pos, d(u1) * d(u1), "su11"),
                (pos, d(u2) * d(u2), "su22"),
                (pos, d(u1) * d(u2), "su12"),
                (neg, d(v1), "sv1"),
                (neg, d(v2), "sv2"),
                (neg, d(v1) * d(v1), "sv11"),
                (neg, d(v2) * d(v2), "sv22"),
                (neg, d(v1) * d(v2), "sv12"),
            ]
        ],
    )
    m = F.col("m").cast("double")
    n = F.col("n").cast("double")
    auc1 = F.col("su1").cast("double") / (2.0 * m * n)
    auc2 = F.col("su2").cast("double") / (2.0 * m * n)

    def s10(skl, sk, sl):
        return (
            F.col(skl).cast("double")
            - F.col(sk).cast("double") * F.col(sl).cast("double") / m
        ) / ((m - 1.0) * (2.0 * n) * (2.0 * n))

    def s01(skl, sk, sl):
        return (
            F.col(skl).cast("double")
            - F.col(sk).cast("double") * F.col(sl).cast("double") / n
        ) / ((n - 1.0) * (2.0 * m) * (2.0 * m))

    var = (
        s10("su11", "su1", "su1")
        + s10("su22", "su2", "su2")
        - 2.0 * s10("su12", "su1", "su2")
    ) / m + (
        s01("sv11", "sv1", "sv1")
        + s01("sv22", "sv2", "sv2")
        - 2.0 * s01("sv12", "sv1", "sv2")
    ) / n
    ok = (F.col("m") >= 2) & (F.col("n") >= 2)
    return agg.select(
        F.col("m").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.round(F.when(ok, auc1), round_dp).alias("auc1"),
        F.round(F.when(ok, auc2), round_dp).alias("auc2"),
        F.round(F.when(ok, auc1 - auc2), round_dp).alias("delta_auc"),
        F.round(F.when(ok, var), round_dp + 3).alias("var_delta"),
        F.when(
            ok & (var > 0),
            F.round((auc1 - auc2) / F.sqrt(var), round_dp),
        ).alias("z"),
    )


def normal_sf_approx(x) -> Column:
    """Upper-tail standard normal probability Q(x) = P(Z > x) for
    x ≥ 0 via Abramowitz & Stegun 26.2.17 (|error| < 7.5e-8): one
    exp plus a degree-5 polynomial in t = 1/(1 + 0.2316419·x).
    Neither Spark nor DuckDB ships erf, so p-values ride this FIXED
    expression — identical term order in the SQL oracles; the one
    transcendental (exp) is JVM Math.exp vs C libm, which may differ
    in the last ulp, so downstream comparisons must round the output
    (the registry rounds to ≤9 dp; a rounding-boundary flip is
    theoretically possible but has a ~1e-16/ulp-scale window,
    vs the 7.5e-8 approximation error itself)."""
    t = 1.0 / (1.0 + 0.2316419 * x)
    poly = t * (
        0.319381530
        + t
        * (
            -0.356563782
            + t * (1.781477937 + t * (-1.821255978 + t * 1.330274429))
        )
    )
    phi = F.exp(-(x * x) / 2.0) / 2.5066282746310002  # sqrt(2*pi)
    return phi * poly


def normal_sf_sql(x: str) -> str:
    """The SQL twin of ``normal_sf_approx`` — same term order."""
    t = f"(1.0 / (1.0 + 0.2316419 * {x}))"
    poly = (
        f"({t} * (0.319381530 + {t} * (-0.356563782 + {t} * "
        f"(1.781477937 + {t} * (-1.821255978 + {t} * 1.330274429)))))"
    )
    return (
        f"((exp(-({x} * {x}) / 2.0) / 2.5066282746310002) * {poly})"
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    value1_col,
    value2_col,
    round_dp: int = 6,
) -> DataFrame:
    """Wilcoxon signed-rank test for PAIRED measurements (Wilcoxon
    1945): did metric 1 systematically exceed metric 2 on the same
    units? The continuous companion to ``mcnemar_test`` (binary) and
    the paired complement of the two-sample Mann-Whitney.

    Integer discipline: differences must be INTEGER-VALUED (quantize
    fixed-grid metrics by scaling first — the caller owns the grid,
    the ``roc_auc`` score-grid contract); zero differences drop per
    the classic treatment. |d| ranks use the tie-averaged rank-sum
    identity on the per-distinct-|d| grain (bounded by the difference
    grid): ``2·W⁺ = Σ_blocks pos·(2b + c + 1)`` stays an exact
    integer, the tie term ``Σ(t³ − t)`` is exact, and

        z = (4·W⁺ − n(n+1)) / sqrt((2n(n+1)(2n+1) − Σ(t³−t)) / 3)

    divides two exact integers under one sqrt — bit-reproducible.

    Output: one row ``(n_pairs, n_nonzero, w_plus, z)``; z NULL when
    every difference is 0 or the variance term is ≤ 0 (all |d| tied
    at one value with nothing to rank against).
    """
    v1 = (
        F.col(value1_col) if isinstance(value1_col, str) else value1_col
    )
    v2 = (
        F.col(value2_col) if isinstance(value2_col, str) else value2_col
    )
    dt = df.select((v1 - v2).alias("__d")).schema["__d"].dataType
    ds = dt.simpleString()
    if ds not in ("tinyint", "smallint", "int", "bigint") and not (
        ds.startswith("decimal") and ds.endswith(",0)")
    ):
        raise ValueError(
            f"difference type {ds} is not integer-valued; quantize "
            "fixed-grid metrics to integers first (the caller owns "
            "the grid) — a silent cast('long') would truncate toward "
            "zero and produce plausible-but-wrong ranks"
        )
    d = (v1 - v2).cast("long")
    base = df.filter(v1.isNotNull() & v2.isNotNull()).select(
        d.alias("__d")
    )
    nz = base.filter(F.col("__d") != 0)
    grain = nz.groupBy(F.abs(F.col("__d")).alias("__ad")).agg(
        F.count(F.lit(1)).alias("__c"),
        F.sum((F.col("__d") > 0).cast("long")).alias("__pos"),
    )
    w = bounded_global_window("__ad").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # the grain is the |difference| grid
    ranked = grain.withColumn(
        "__b", F.sum("__c").over(w) - F.col("__c")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = ranked.agg(
        F.sum("__c").alias("n_nonzero"),
        F.sum(
            dec(F.col("__pos"))
            * dec(2 * F.col("__b") + F.col("__c") + 1)
        ).alias("__w2"),
        F.sum(
            dec(F.col("__c")) * dec(F.col("__c")) * dec(F.col("__c"))
            - dec(F.col("__c"))
        ).alias("__ties"),
    ).crossJoin(
        F.broadcast(base.agg(F.count(F.lit(1)).alias("n_pairs")))
    )
    n = F.col("n_nonzero").cast("decimal(38,0)")
    s = (
        F.lit(2).cast("decimal(38,0)")
        * n
        * (n + 1)
        * (2 * n + 1)
        - F.col("__ties")
    )
    num = (
        F.lit(2).cast("decimal(38,0)") * F.col("__w2") - n * (n + 1)
    )
    return agg.select(
        "n_pairs",
        F.coalesce("n_nonzero", F.lit(0)).alias("n_nonzero"),
        (F.col("__w2").cast("double") / 2.0).alias("w_plus"),
        F.when(
            (F.col("n_nonzero") > 0) & (s > 0),
            F.round(
                num.cast("double") / F.sqrt(s.cast("double") / 3.0),
                round_dp,
            ),
        ).alias("z"),
    )


def bh_fdr(
    df: DataFrame,
    key_col: str,
    p_col: str,
    alpha: float = 0.05,
    family_cols: Sequence[str] | None = None,
    round_dp: int = 9,
) -> DataFrame:
    """Benjamini-Hochberg FDR control (Benjamini & Hochberg 1995)
    over a frame of test results — the multiple-testing step every
    per-group significance sweep (per-type Mann-Kendall, per-slice
    AUC deltas) needs before anyone acts on "12 of 80 slices
    significant at 0.05".

    Contract: ONE ROW PER TEST — the frame is bounded by the number
    of hypotheses, not the corpus (the corpus-sized work happened in
    the tests themselves), so the rank / reverse-running-min windows
    are bounded. Pass ``family_cols`` to correct within families
    (also keeps the windows partitioned); ties in p break by key so
    ranks are deterministic.

    Outputs per test: BH critical value ``alpha·i/m``, the step-up
    ``rejected`` flag (everything up to the LARGEST i with
    ``p_(i) ≤ crit_i`` — including interior points above their own
    line, the part naive implementations get wrong), and the
    monotone ``q_value = min_{j ≥ i} p_(j)·m/j`` capped at 1.
    """
    fam = list(family_cols) if family_cols else []
    base = df.filter(
        F.col(p_col).isNotNull() & F.col(key_col).isNotNull()
    ).select(
        *fam, F.col(key_col), F.col(p_col).cast("double").alias("__p")
    )
    wp = (
        Window.partitionBy(*fam)
        if fam
        else bounded_global_partition("__p")
    )
    word = wp.orderBy(F.col("__p").asc(), F.col(key_col).asc())
    staged = base.select(
        *fam,
        key_col,
        "__p",
        F.row_number().over(word).alias("__i"),
        F.count(F.lit(1)).over(wp).alias("__m"),
    )
    crit = F.lit(float(alpha)) * F.col("__i") / F.col("__m")
    qraw = F.col("__p") * F.col("__m") / F.col("__i")
    wrev = wp.orderBy(F.col("__i").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = staged.select(
        *fam,
        key_col,
        "__p",
        "__i",
        "__m",
        crit.alias("__crit"),
        F.min(F.least(qraw, F.lit(1.0))).over(wrev).alias("__q"),
        F.max(
            F.when(F.col("__p") <= crit, F.col("__i")).otherwise(0)
        ).over(wp).alias("__imax"),
    )
    return flagged.select(
        *fam,
        F.col(key_col),
        F.round("__p", round_dp).alias("p_value"),
        F.col("__i").alias("rank"),
        F.col("__m").alias("m_tests"),
        F.round("__crit", round_dp).alias("bh_critical"),
        (F.col("__i") <= F.col("__imax")).alias("rejected"),
        F.round("__q", round_dp).alias("q_value"),
    )


def odds_ratio_woolf(
    df: DataFrame,
    exposure_col,
    outcome_col,
    round_dp: int = 6,
) -> DataFrame:
    """Single 2×2 odds ratio with the Woolf (1955) log-interval —
    the unstratified companion of ``cmh_test``'s pooled OR:

        OR = a·d / (b·c),
        ln OR ± 1.96·sqrt(1/a + 1/b + 1/c + 1/d)

    Scale shape: ONE conditional aggregation to four exact counts;
    OR is an exact-integer ratio and the interval a fixed expression
    (ln/exp under the ``round_dp`` output round — the BM25
    precedent). Any empty cell → NULL OR/CI (use an exact or
    continuity-corrected method there; this operator reports the
    asymptotic form honestly rather than silently adding 0.5).

    Output one row: ``(a, b, c, d, odds_ratio, ci_lo, ci_hi)``.
    """
    ex = (
        F.col(exposure_col)
        if isinstance(exposure_col, str)
        else exposure_col
    ).cast("boolean")
    oc = (
        F.col(outcome_col)
        if isinstance(outcome_col, str)
        else outcome_col
    ).cast("boolean")
    agg = df.filter(ex.isNotNull() & oc.isNotNull()).agg(
        F.sum((ex & oc).cast("long")).alias("a"),
        F.sum((ex & ~oc).cast("long")).alias("b"),
        F.sum((~ex & oc).cast("long")).alias("c"),
        F.sum((~ex & ~oc).cast("long")).alias("d"),
    )
    a, b, c, dd = (
        F.coalesce(F.col(x), F.lit(0)).cast("double")
        for x in ("a", "b", "c", "d")
    )
    ok = (a > 0) & (b > 0) & (c > 0) & (dd > 0)
    orr = a * dd / (b * c)
    half = F.lit(1.96) * F.sqrt(
        1.0 / a + 1.0 / b + 1.0 / c + 1.0 / dd
    )
    return agg.select(
        F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("a"),
        F.coalesce(F.col("b"), F.lit(0)).cast("long").alias("b"),
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        F.coalesce(F.col("d"), F.lit(0)).cast("long").alias("d"),
        F.round(F.when(ok, orr), round_dp).alias("odds_ratio"),
        F.round(
            F.when(ok, F.exp(F.log(orr) - half)), round_dp
        ).alias("ci_lo"),
        F.round(
            F.when(ok, F.exp(F.log(orr) + half)), round_dp
        ).alias("ci_hi"),
    )


def poisson_two_rate(
    df: DataFrame,
    group_col,
    exposure1: float,
    exposure2: float,
    round_dp: int = 9,
) -> DataFrame:
    """Two-sample Poisson rate test (conditional / binomial form,
    Przyborowski & Wilenski 1940): are events arriving faster in
    stream 1 than stream 2, given exposures T₁/T₂ (machine-hours,
    node-days, request volume)? Conditional on the total count
    ``N = c₁ + c₂``, c₁ ~ Binomial(N, p₀) with
    ``p₀ = T₁/(T₁+T₂)``, so

        z = (c₁ − N·p₀) / sqrt(N·p₀·(1 − p₀))

    — the event-RATE member of the A/B family next to
    ``two_proportion_z`` (which compares per-row probabilities, not
    per-exposure intensities).

    Scale shape: ONE conditional aggregation to the two exact counts;
    exposures are caller literals, so z is a fixed expression over
    two integers. Two-sided p via the shared A&S tail.

    Output one row: ``(n_events_1, n_events_2, rate_1, rate_2, z,
    p_value)`` — z NULL when no events at all.
    """
    if exposure1 <= 0 or exposure2 <= 0:
        raise ValueError("exposures must be positive")
    g = (
        F.col(group_col) if isinstance(group_col, str) else group_col
    ).cast("boolean")
    agg = df.filter(g.isNotNull()).agg(
        F.sum(g.cast("long")).alias("__c1"),
        F.sum((~g).cast("long")).alias("__c2"),
    )
    p0 = exposure1 / (exposure1 + exposure2)
    c1 = F.coalesce(F.col("__c1"), F.lit(0)).cast("double")
    c2 = F.coalesce(F.col("__c2"), F.lit(0)).cast("double")
    nn = c1 + c2
    zz = F.when(
        nn > 0,
        (c1 - nn * F.lit(p0))
        / F.sqrt(nn * F.lit(p0) * F.lit(1.0 - p0)),
    )
    return agg.select(
        F.coalesce(F.col("__c1"), F.lit(0)).cast("long").alias(
            "n_events_1"
        ),
        F.coalesce(F.col("__c2"), F.lit(0)).cast("long").alias(
            "n_events_2"
        ),
        F.round(c1 / F.lit(float(exposure1)), round_dp).alias(
            "rate_1"
        ),
        F.round(c2 / F.lit(float(exposure2)), round_dp).alias(
            "rate_2"
        ),
        F.round(zz, round_dp).alias("z"),
        F.round(
            F.lit(2.0) * normal_sf_approx(F.abs(zz)), round_dp
        ).alias("p_value"),
    )


def gwet_ac1(
    df: DataFrame,
    rater1_col: str,
    rater2_col: str,
    round_dp: int = 9,
) -> DataFrame:
    """Gwet's AC1 inter-rater agreement (Gwet 2008) — the
    paradox-resistant alternative to Cohen's kappa: kappa collapses
    toward 0 under skewed category prevalence even at near-perfect
    observed agreement (the "kappa paradox"); AC1's chance term uses
    the probability a RANDOM rater pair agrees by accident,

        Pe = Σ_k π_k(1 − π_k) / (K − 1),
        π_k = (n1_k + n2_k) / (2N),   AC1 = (Pa − Pe) / (1 − Pe)

    Scale shape: ONE conditional aggregation to the K×K-bounded cell
    table (the ``cohens_kappa`` contract); marginals and Pa are exact
    integers, and the only float reduction folds over the
    category-sorted array. Categories are the union of both raters'.

    Output one row: ``(n, n_categories, p_agree, p_chance, ac1)`` —
    NULL AC1 when K < 2 or Pe = 1.
    """
    r1 = F.col(rater1_col).cast("string")
    r2 = F.col(rater2_col).cast("string")
    # ONE K×K contingency aggregation, persisted, null cells dropped
    # ABOVE the persist (the cohens_kappa discipline): the old
    # row-grain ``base`` was consumed by THREE subtrees (two marginal
    # aggs + the totals agg), each replaying the caller's full label
    # derivation over the corpus, with the not-null filter pushed to
    # the scan and the derivation inlined twice more. Marginals and
    # totals now reduce the tiny cached cell table — same exact
    # integers.
    from pyspark import StorageLevel

    cont = (
        df.groupBy(r1.alias("__r1"), r2.alias("__r2"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cont = cont.filter(
        F.col("__r1").isNotNull() & F.col("__r2").isNotNull()
    )
    m1 = cont.groupBy(F.col("__r1").alias("__k")).agg(
        F.sum("__c").alias("__c1")
    )
    m2 = cont.groupBy(F.col("__r2").alias("__k")).agg(
        F.sum("__c").alias("__c2")
    )
    marg = (
        m1.join(m2, "__k", "full")
        .select(
            "__k",
            (
                F.coalesce("__c1", F.lit(0))
                + F.coalesce("__c2", F.lit(0))
            ).alias("__m"),
        )
    )
    tot = cont.agg(
        # coalesce: the old row-grain count() yielded 0 on an empty
        # input where sum() yields NULL
        F.coalesce(F.sum("__c"), F.lit(0).cast("long")).alias("__n"),
        F.sum(
            F.when(F.col("__r1") == F.col("__r2"), F.col("__c")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("__agree"),
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__k").alias("k"),
                F.col("__m").cast("double").alias("m"),
            )
        )
    )
    agg = (
        marg.agg(F.count(F.lit(1)).alias("__kk"), arr.alias("__arr"))
        .crossJoin(F.broadcast(tot))
        .withColumn("__nd", F.col("__n").cast("double"))
    )
    pe = F.aggregate(
        F.expr(
            "transform(__arr, x -> "
            "(x.m / (2.0 * __nd)) * (1.0 - x.m / (2.0 * __nd)))"
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    ) / (F.col("__kk").cast("double") - 1.0)
    pa = F.col("__agree").cast("double") / F.col("__nd")
    ok = (F.col("__kk") >= 2) & (F.col("__n") > 0)
    return agg.select(
        F.col("__n").cast("long").alias("n"),
        F.col("__kk").cast("long").alias("n_categories"),
        F.round(F.when(F.col("__n") > 0, pa), round_dp).alias(
            "p_agree"
        ),
        F.round(F.when(ok, pe), round_dp).alias("p_chance"),
        F.round(
            F.when(ok & (pe < 1.0), (pa - pe) / (1.0 - pe)),
            round_dp,
        ).alias("ac1"),
    )


def cmh_test(
    df: DataFrame,
    stratum_col: str,
    exposure_col,
    outcome_col,
    round_dp: int = 6,
) -> DataFrame:
    """Cochran–Mantel–Haenszel test + Mantel–Haenszel common odds
    ratio (Mantel & Haenszel 1959) over STRATIFIED 2×2 tables — "is
    exposure associated with outcome after controlling for the
    stratum?", the guardrail against Simpson's paradox that a pooled
    chi-square walks straight into:

        χ²_CMH = (Σ_s (a_s − n1_s·m1_s/N_s))²
                 / Σ_s n1_s·n0_s·m1_s·m0_s / (N_s²·(N_s−1))
        OR_MH  = Σ_s (a_s·d_s/N_s) / Σ_s (b_s·c_s/N_s)

    (no continuity correction; margins n1/n0 = exposure, m1/m0 =
    outcome rows of stratum s).

    Scale shape: ONE conditional aggregation to the per-stratum 2×2
    cells (the frame is |strata|-bounded — the caller owns the
    stratum cardinality, the ``bh_fdr`` one-row-per-test contract);
    each stratum's rational terms quantize to the 1e-6 grid before
    summing (order-free exact decimals, the CUPED discipline), so the
    statistic replays bit-identically in SQL. Degenerate strata
    (N_s < 2 or an empty margin) contribute their defined zeros.

    Output: one row ``(n_strata, n, cmh_chi2, mh_or)`` — χ² NULL when
    the variance sum is 0, OR NULL when Σb·c/N = 0.
    """
    ex = (
        F.col(exposure_col)
        if isinstance(exposure_col, str)
        else exposure_col
    ).cast("boolean")
    oc = (
        F.col(outcome_col)
        if isinstance(outcome_col, str)
        else outcome_col
    ).cast("boolean")
    cells = (
        df.filter(
            F.col(stratum_col).isNotNull()
            & ex.isNotNull()
            & oc.isNotNull()
        )
        .groupBy(F.col(stratum_col).alias("__s"))
        .agg(
            F.sum((ex & oc).cast("long")).alias("__a"),
            F.sum((ex & ~oc).cast("long")).alias("__b"),
            F.sum((~ex & oc).cast("long")).alias("__c"),
            F.sum((~ex & ~oc).cast("long")).alias("__d"),
        )
    )
    a, b, c, dd = (F.col(x).cast("double") for x in ("__a", "__b", "__c", "__d"))
    n1, n0 = a + b, c + dd
    m1, m0 = a + c, b + dd
    nn = n1 + n0
    diff = F.when(nn > 0, a - n1 * m1 / nn).otherwise(F.lit(0.0))
    var = F.when(
        nn > 1, n1 * n0 * m1 * m0 / (nn * nn * (nn - 1.0))
    ).otherwise(F.lit(0.0))
    ad = F.when(nn > 0, a * dd / nn).otherwise(F.lit(0.0))
    bc = F.when(nn > 0, b * c / nn).otherwise(F.lit(0.0))
    q = lambda x: (  # noqa: E731  1e-6 grid, order-free exact sums
        F.floor(x * 1_000_000.0 + 0.5).cast("decimal(38,0)")
    )
    agg = cells.agg(
        F.count(F.lit(1)).alias("n_strata"),
        (F.sum("__a") + F.sum("__b") + F.sum("__c") + F.sum("__d"))
        .alias("n"),
        F.sum(q(diff)).alias("__qdiff"),
        F.sum(q(var)).alias("__qvar"),
        F.sum(q(ad)).alias("__qad"),
        F.sum(q(bc)).alias("__qbc"),
    )
    sdiff = F.col("__qdiff").cast("double") / 1_000_000.0
    svar = F.col("__qvar").cast("double") / 1_000_000.0
    sad = F.col("__qad").cast("double") / 1_000_000.0
    sbc = F.col("__qbc").cast("double") / 1_000_000.0
    return agg.select(
        F.col("n_strata").cast("long").alias("n_strata"),
        F.col("n").cast("long").alias("n"),
        F.round(
            F.when(svar > 0, sdiff * sdiff / svar), round_dp
        ).alias("cmh_chi2"),
        F.round(F.when(sbc > 0, sad / sbc), round_dp).alias("mh_or"),
    )


def hosmer_lemeshow(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
    round_dp: int = 6,
) -> DataFrame:
    """Hosmer–Lemeshow goodness-of-fit χ² for probability predictions:
    bin scores into ``bins`` equal-width groups (the
    ``calibration_bins`` grid — fixed-width, not sample deciles, so
    the grid is data-independent and the plan scale-free), compare
    observed vs expected event counts per bin in BOTH outcome columns:

        χ² = Σ_bins (O1−E1)²/E1 + (O0−E0)²/E0,   E1 = Σ_bin p

    Exactness: scores live on the classifier's 1e-6 grid, so each
    bin's expected count E1 accumulates as exact micro-unit longs
    (the ``brier_score`` recipe); observed counts are exact integers;
    the only float reduction folds over the bin-sorted array
    (``kruskal_wallis`` recipe). Bins where E1 or E0 is 0 are
    excluded from the sum with their count reported, per the standard
    treatment (df = bins_used − 2 is the caller's concern).

    Output: one row ``(n, n_bins_used, hl_chi2)``.
    """
    lbl = F.col(label_col).cast("boolean")
    p = F.col(score_col).cast("double")
    p_u = F.round(p * F.lit(1_000_000)).cast("long")
    bin_idx = F.least(
        F.lit(bins - 1), F.floor(p * bins).cast("int")
    )
    per_bin = (
        df.filter(p.isNotNull() & lbl.isNotNull())
        .groupBy(bin_idx.alias("__bin"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(lbl.cast("long")).alias("__o1"),
            F.sum(p_u).alias("__e1u"),
        )
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__bin").alias("bin"),
                F.col("__n").cast("double").alias("n"),
                F.col("__o1").cast("double").alias("o1"),
                (F.col("__e1u").cast("double") / 1_000_000.0).alias(
                    "e1"
                ),
            )
        )
    )
    agg = per_bin.agg(
        F.sum("__n").alias("n"), arr.alias("__arr")
    ).withColumn(
        "__used",
        F.size(
            F.expr(
                "filter(__arr, x -> x.e1 > 0 AND (x.n - x.e1) > 0)"
            )
        ),
    )
    chi = F.aggregate(
        F.expr(
            "transform(filter(__arr, x -> x.e1 > 0 AND"
            " (x.n - x.e1) > 0), x -> "
            "(x.o1 - x.e1) * (x.o1 - x.e1) / x.e1"
            " + ((x.n - x.o1) - (x.n - x.e1))"
            " * ((x.n - x.o1) - (x.n - x.e1)) / (x.n - x.e1))"
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("__used").cast("long").alias("n_bins_used"),
        F.round(
            F.when(F.col("__used") > 0, chi), round_dp
        ).alias("hl_chi2"),
    )


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
    round_dp: int = 9,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score on the
    ``calibration_bins`` grid: REL − RES + UNC, where

        REL = Σ_b n_b·(p̄_b − ō_b)² / N    (calibration badness)
        RES = Σ_b n_b·(ō_b − ō)² / N      (discrimination captured)
        UNC = ō·(1 − ō)                    (irreducible label entropy)

    — the diagnosis that splits a bad Brier into "miscalibrated" vs
    "can't discriminate" (binned p̄_b makes the identity approximate
    vs the unbinned ``brier_score``, reported alongside; the residual
    is the within-bin variance the grid absorbs).

    Exactness: one corpus aggregation to the bins-bounded grain
    carrying exact micro-unit score sums, exact label counts, AND the
    exact unbinned Brier sum (the ``brier_score`` integer identity —
    no second pass); REL/RES fold over the bin-sorted array.

    Output one row: ``(n, n_pos, brier, reliability, resolution,
    uncertainty)`` — NULL decomposition on an empty frame.
    """
    lbl = F.col(label_col).cast("boolean")
    p = F.col(score_col).cast("double")
    p_u = F.round(p * F.lit(1_000_000)).cast("long")
    e = p_u - lbl.cast("long") * F.lit(1_000_000)
    bin_idx = F.least(
        F.lit(bins - 1), F.floor(p * bins).cast("int")
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    per_bin = (
        df.filter(p.isNotNull() & lbl.isNotNull())
        .groupBy(bin_idx.alias("__bin"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(lbl.cast("long")).alias("__o1"),
            F.sum(dec(p_u)).alias("__pu"),
            F.sum(dec(e) * dec(e)).alias("__se"),
        )
    )
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("__bin").alias("bin"),
                F.col("__n").cast("double").alias("n"),
                F.col("__o1").cast("double").alias("o1"),
                (F.col("__pu").cast("double") / 1_000_000.0).alias(
                    "ps"
                ),
            )
        )
    )
    agg = (
        per_bin.agg(
            F.sum("__n").alias("__nt"),
            F.sum("__o1").alias("__o1t"),
            F.sum("__se").alias("__set"),
            arr.alias("__arr"),
        )
        .withColumn("__nd", F.col("__nt").cast("double"))
        .withColumn(
            "__obar",
            F.col("__o1t").cast("double") / F.col("__nt").cast("double"),
        )
    )
    rel = F.aggregate(
        F.expr(
            "transform(__arr, x -> x.n * (x.ps / x.n - x.o1 / x.n)"
            " * (x.ps / x.n - x.o1 / x.n) / __nd)"
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    res = F.aggregate(
        F.expr(
            "transform(__arr, x -> x.n * (x.o1 / x.n - __obar)"
            " * (x.o1 / x.n - __obar) / __nd)"
        ),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    ok = F.col("__nt") > 0
    brier = F.col("__set").cast("double") / (
        F.col("__nd") * F.lit(1e12)
    )
    return agg.select(
        F.col("__nt").cast("long").alias("n"),
        F.col("__o1t").cast("long").alias("n_pos"),
        F.round(F.when(ok, brier), round_dp).alias("brier"),
        F.round(F.when(ok, rel), round_dp).alias("reliability"),
        F.round(F.when(ok, res), round_dp).alias("resolution"),
        F.round(
            F.when(ok, F.col("__obar") * (1.0 - F.col("__obar"))),
            round_dp,
        ).alias("uncertainty"),
    )


def cliffs_delta(
    df: DataFrame,
    value_col: str,
    group_col,
    round_dp: int = 9,
) -> DataFrame:
    """Cliff's delta ordinal effect size (Cliff 1993):
    ``δ = (#(x > y) − #(x < y)) / (m·n)`` between the group-true
    rows (x) and group-false rows (y) — the magnitude companion to
    rank-based significance (a huge corpus makes ANY difference
    "significant"; δ says whether it's big), algebraically
    ``2·AUC − 1``.

    Rides the exact ``roc_auc`` integer rank identity on the
    per-distinct-value grain: ``δ = (Σ2R⁺ − m(m+1) − m·n) / (m·n)``
    with every term an exact decimal — one bounded-grain pass, one
    final division. Output: ``(n_pos, n_neg, delta, magnitude)``
    with the standard |δ| bands (negligible < 0.147 ≤ small < 0.33
    ≤ medium < 0.474 ≤ large; Romano et al. 2006). NULL when either
    group is empty.
    """
    g = (
        F.col(group_col) if isinstance(group_col, str) else group_col
    ).cast("boolean")
    per = (
        df.filter(F.col(value_col).isNotNull() & g.isNotNull())
        .groupBy(F.col(value_col).alias("__v"))
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum(g.cast("long")).alias("__p"),
        )
    )
    w = bounded_global_window("__v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # the grain is the value grid
    ranked = per.withColumn(
        "__b", F.sum("__c").over(w) - F.col("__c")
    ).withColumn(
        "__rs2",
        F.col("__p").cast("decimal(38,0)")
        * (2 * F.col("__b") + F.col("__c") + 1).cast("decimal(38,0)"),
    )
    agg = ranked.agg(
        F.sum("__p").alias("n_pos"),
        (F.sum("__c") - F.sum("__p")).alias("n_neg"),
        F.sum("__rs2").alias("__rs2_tot"),
    )
    m = F.col("n_pos").cast("decimal(38,0)")
    n = F.col("n_neg").cast("decimal(38,0)")
    delta = (
        (F.col("__rs2_tot") - m * (m + 1) - m * n).cast("double")
        / (m * n).cast("double")
    )
    mag = (
        F.when(F.abs(delta) < 0.147, F.lit("negligible"))
        .when(F.abs(delta) < 0.33, F.lit("small"))
        .when(F.abs(delta) < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    ok = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(F.when(ok, delta), round_dp).alias("delta"),
        F.when(ok, mag).alias("magnitude"),
    )


def plackett_luce_strengths(
    rankings: DataFrame,
    ranking_col: str,
    items: list[str] | None = None,
    iters: int = 10,
    round_dp: int = 9,
    max_patterns: int = 5000,
) -> DataFrame:
    """Plackett-Luce listwise preference aggregation (Plackett 1975;
    Hunter 2004's MM) — ``bradley_terry_strengths`` generalized from
    pairwise wins to full/partial RANKINGS (best→worst arrays): the
    model where a ranking is a sequence of choices, each stage picking
    the winner from the remaining set with probability
    ``p_i / Σ_{j remaining} p_j``. The RLHF listwise-comparison /
    ranker-battle aggregate.

    Scale shape (the FS-EM / Bradley-Terry discipline): the ranking
    corpus collapses to DISTINCT-PATTERN counts in ONE aggregation —
    at most ``|items|!`` full patterns (``max_patterns`` guards the
    collect) — then ``iters`` synchronous MM updates run on the
    driver in fixed order (patterns sorted lexicographically, stages
    ascending, remaining-set sums in pattern order, all
    left-associated), so every iteration replays bit-identically in
    an unrolled SQL oracle:

        D_i  = Σ_patterns cnt_π · Σ_{stages s: i ∈ π[s:]}
                   1 / (Σ_{j ∈ π[s:]} p_j)
        p_i' = w_i / D_i        (w_i = stages i won; D_i = 0 → carry)
        p_i''= p_i' / Σ_{appearing items} p_j'

    Rankings must have ≥ 2 DISTINCT items (duplicates raise);
    the last place of each ranking wins no stage. Items never
    appearing report NULL strength.

    Output: one row per item, ``(item, n_wins, n_appearances,
    strength)``; appearing items' strengths sum to 1 on the
    ``round_dp`` grid.
    """
    import math

    pat_grouped = (
        rankings.filter(
            F.col(ranking_col).isNotNull()
            & (F.size(ranking_col) >= 2)
        )
        .groupBy(F.col(ranking_col).alias("__pat"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    _probe_driver_bounded(
        pat_grouped,
        max_patterns,
        f"distinct ranking patterns (max_patterns={max_patterns})",
    )
    pat_rows = pat_grouped.collect()
    counts: dict[tuple[str, ...], int] = {}
    seen: set[str] = set()
    for r in pat_rows:
        pat = tuple(str(x) for x in r["__pat"])
        if len(set(pat)) != len(pat):
            raise ValueError(f"ranking with duplicate items: {pat}")
        counts[pat] = counts.get(pat, 0) + int(r["__c"])
        seen.update(pat)
    if len(counts) > max_patterns:
        raise ValueError(
            f"{len(counts)} distinct patterns exceeds max_patterns="
            f"{max_patterns}; the pattern frame must stay driver-bounded"
        )
    its = list(items) if items is not None else sorted(seen)
    extra = seen - set(its)
    if extra:
        raise ValueError(f"data contains items outside `items`: {extra}")
    idx = {it: i for i, it in enumerate(its)}
    k = len(its)
    wins = [0] * k
    appear = [0] * k
    for pat, cnt in counts.items():
        for pos, it in enumerate(pat):
            appear[idx[it]] += cnt
            if pos < len(pat) - 1:
                wins[idx[it]] += cnt
    patterns = sorted(counts)
    p = [1.0] * k
    for _ in range(iters):
        d = [0.0] * k
        for pat in patterns:
            cnt = float(counts[pat])
            for s in range(len(pat) - 1):
                den = 0.0
                for j in pat[s:]:
                    den = den + p[idx[j]]
                for j in pat[s:]:
                    d[idx[j]] = d[idx[j]] + cnt / den
        nxt = [
            (float(wins[i]) / d[i]) if d[i] != 0.0 else p[i]
            for i in range(k)
        ]
        ssum = 0.0
        for i in range(k):
            if appear[i]:
                ssum = ssum + nxt[i]
        if ssum != 0.0:
            nxt = [v / ssum for v in nxt]
        p = nxt
    scale = 10.0**round_dp

    def _q(x: float) -> float:
        return math.floor(x * scale + 0.5) / scale

    rows = [
        (its[i], wins[i], appear[i], _q(p[i]) if appear[i] else None)
        for i in range(k)
    ]
    return rankings.sparkSession.createDataFrame(
        rows,
        "item string, n_wins long, n_appearances long, strength double",
    )


def isotonic_calibration_grid(
    df: DataFrame,
    score_col,
    label_col: str,
    round_dp: int = 9,
) -> DataFrame:
    """Isotonic (PAV) probability calibration on a BOUNDED score grid
    — the standard monotone recalibration that ``calibration_bins``
    diagnoses the need for: fit the best monotone-nondecreasing rate
    curve to the per-grid empirical positive rates, pooling adjacent
    violators. Implemented DECLARATIVELY via the minimax
    characterization of the weighted isotonic fit,

        iso(i) = max_{j ≤ i} min_{k ≥ i} rate(j..k)

    with ``rate(j..k)`` the pooled positive rate of grid blocks j..k
    from exact prefix sums — no driver loop, no data-dependent
    pooling iteration, so the whole fit is a fixed plan that replays
    identically in SQL.

    Scale contract: the GRID must be small (≤ a few hundred rows —
    bin raw scores first, e.g. ``floor(score·20)``; calibration grids
    are small by construction). The corpus collapses to the grid in
    ONE aggregation; the (j ≤ i ≤ k) covering join is grid³/6 rows —
    trivial at contract size, and the reason the contract exists.

    Output: one row per grid value, ``(score_bin, n, n_pos,
    raw_rate, iso_rate)`` — iso_rate monotone nondecreasing in the
    bin by construction.
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    y = F.col(label_col).cast("boolean")
    grain = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("__s"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(y.cast("long")).alias("__p"),
        )
    )
    w = bounded_global_window("__s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )  # the grain is the calibration grid
    pre = grain.select(
        "__s",
        "__n",
        "__p",
        F.row_number().over(bounded_global_window("__s")).alias("__i"),
        F.sum("__n").over(w).alias("__cn"),
        F.sum("__p").over(w).alias("__cp"),
    )
    a = pre.select(
        F.col("__i").alias("__j"),
        (F.col("__cp") - F.col("__p")).alias("__cp0"),
        (F.col("__cn") - F.col("__n")).alias("__cn0"),
    )
    b = pre.select(
        F.col("__i").alias("__k"),
        F.col("__cp").alias("__cpk"),
        F.col("__cn").alias("__cnk"),
    )
    means = a.join(F.broadcast(b), F.col("__k") >= F.col("__j")).select(
        "__j",
        "__k",
        (
            (F.col("__cpk") - F.col("__cp0")).cast("double")
            / (F.col("__cnk") - F.col("__cn0")).cast("double")
        ).alias("__m"),
    )
    centers = pre.select(F.col("__i"))
    covering = centers.join(
        F.broadcast(means),
        (F.col("__j") <= F.col("__i")) & (F.col("__k") >= F.col("__i")),
    )
    fit = (
        covering.groupBy("__i", "__j")
        .agg(F.min("__m").alias("__tmin"))
        .groupBy("__i")
        .agg(F.max("__tmin").alias("__iso"))
    )
    return (
        pre.join(F.broadcast(fit), "__i")
        .select(
            F.col("__s").alias("score_bin"),
            F.col("__n").alias("n"),
            F.col("__p").alias("n_pos"),
            F.round(
                F.col("__p").cast("double") / F.col("__n").cast("double"),
                round_dp,
            ).alias("raw_rate"),
            F.round("__iso", round_dp).alias("iso_rate"),
        )
    )


# Benford expected first-digit probabilities log10(1 + 1/d), embedded
# as literals so no log evaluates at query time (engine-portable)
BENFORD_P = {
    d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)
}


def benford_first_digit(
    df: DataFrame,
    value_col: str,
    round_dp: int = 9,
) -> DataFrame:
    """Benford's-law first-significant-digit audit (Newcomb 1881;
    Benford 1938) — the data-forensics screen for fabricated or
    truncated numeric columns (natural multi-scale magnitudes follow
    P(d) = log10(1 + 1/d); uniform or hand-entered data does not).

    The first significant digit comes from the value's string form
    (first [1-9] match — robust to scientific notation in either
    engine), so no log/pow evaluates per row; the expected
    probabilities are compile-time literals. ONE aggregation to ≤ 9
    digit rows; chi-square contributions from exact counts.

    Output per digit: ``(digit, n_values, observed_p, expected_p,
    chi2_contrib)`` — rows only for digits present; zero/NULL values
    (no significant digit) are excluded.
    """
    digit = F.regexp_extract(
        F.abs(F.col(value_col)).cast("string"), "[1-9]", 0
    )
    base = df.filter(F.col(value_col).isNotNull()).select(
        digit.alias("__d")
    ).filter(F.col("__d") != "")
    per = base.groupBy("__d").agg(F.count(F.lit(1)).alias("__c"))
    tot = per.agg(F.sum("__c").alias("__n"))
    exp_p = None
    for d, pv in BENFORD_P.items():
        exp_p = (F.when if exp_p is None else exp_p.when)(
            F.col("__d") == str(d), F.lit(pv)
        )
    j = per.crossJoin(F.broadcast(tot))
    obs = F.col("__c").cast("double") / F.col("__n").cast("double")
    expn = exp_p * F.col("__n").cast("double")
    return j.select(
        F.col("__d").cast("int").alias("digit"),
        F.col("__c").alias("n_values"),
        F.round(obs, round_dp).alias("observed_p"),
        F.round(exp_p, round_dp).alias("expected_p"),
        F.round(
            (F.col("__c").cast("double") - expn)
            * (F.col("__c").cast("double") - expn)
            / expn,
            round_dp,
        ).alias("chi2_contrib"),
    )


def cuped_adjusted_means(
    df: DataFrame,
    metric_col: str,
    covariate_col: str,
    variant_col: str,
    round_dp: int = 9,
) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013) —
    the industry-standard A/B-test sharpener: adjust each variant's
    metric mean by the pre-experiment covariate,
    ``ȳ_adj = ȳ − θ·(x̄_variant − x̄_pooled)`` with
    ``θ = cov(x, y)/var(x)`` pooled, cutting metric variance by ρ²
    without touching the point estimate's expectation.

    Exactness: metric and covariate quantize to 1e-6 integer
    micro-units up front (the ``mixture_reweight_mwu`` grid), so all
    five power sums per variant are exact decimals; θ, ρ² and the
    adjusted means are one deterministic expression tree over those
    integers. ONE variant-keyed map-combined aggregation (variant-
    bounded output) + a broadcast pooled row — no second corpus pass.

    Output per variant: ``(variant, n, mean_metric, mean_covariate,
    mean_adjusted, theta, rho2)`` — θ/ρ² are the pooled values
    repeated per row; when var(x) = 0 they are NULL and the adjusted
    mean falls back to the raw mean.
    """
    q = lambda c: (  # noqa: E731
        F.floor(F.abs(F.col(c).cast("double")) * 1e6 + 0.5)
        * F.when(F.col(c) < 0, F.lit(-1)).otherwise(F.lit(1))
    ).cast("decimal(38,0)")
    base = df.filter(
        F.col(metric_col).isNotNull()
        & F.col(covariate_col).isNotNull()
        & F.col(variant_col).isNotNull()
    ).select(
        F.col(variant_col).alias("variant"),
        q(metric_col).alias("__y"),
        q(covariate_col).alias("__x"),
    )
    per = base.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__y").alias("__sy"),
        F.sum("__x").alias("__sx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    pool = per.agg(
        F.sum("n").alias("__pn"),
        F.sum("__sy").alias("__psy"),
        F.sum("__sx").alias("__psx"),
        F.sum("__sxy").alias("__psxy"),
        F.sum("__sxx").alias("__psxx"),
        F.sum("__syy").alias("__psyy"),
    )
    j = per.crossJoin(F.broadcast(pool))
    pn = F.col("__pn").cast("double")
    cov = (
        F.col("__psxy").cast("double")
        - F.col("__psx").cast("double") * F.col("__psy").cast("double") / pn
    )
    varx = (
        F.col("__psxx").cast("double")
        - F.col("__psx").cast("double") * F.col("__psx").cast("double") / pn
    )
    vary = (
        F.col("__psyy").cast("double")
        - F.col("__psy").cast("double") * F.col("__psy").cast("double") / pn
    )
    theta = cov / varx
    rho2 = cov * cov / (varx * vary)
    mean_y = F.col("__sy").cast("double") / F.col("n").cast("double")
    mean_x = F.col("__sx").cast("double") / F.col("n").cast("double")
    pool_x = F.col("__psx").cast("double") / pn
    ok = varx > 0
    adj = F.when(
        ok, (mean_y - theta * (mean_x - pool_x)) / 1e6
    ).otherwise(mean_y / 1e6)
    return j.select(
        "variant",
        "n",
        F.round(mean_y / 1e6, round_dp).alias("mean_metric"),
        F.round(mean_x / 1e6, round_dp).alias("mean_covariate"),
        F.round(adj, round_dp).alias("mean_adjusted"),
        F.round(F.when(ok, theta), round_dp).alias("theta"),
        F.round(F.when(ok & (vary > 0), rho2), round_dp).alias("rho2"),
    )


def two_proportion_z(
    df: DataFrame,
    group_col,
    success_col,
    round_dp: int = 9,
) -> DataFrame:
    """Two-proportion z-test (the A/B conversion-rate workhorse,
    pooled-variance form): does the TRUE group's success rate differ
    from the FALSE group's?
    ``z = (p₁ − p₂) / sqrt(p̂(1−p̂)(1/n₁ + 1/n₂))`` with p̂ pooled.

    ONE conditional aggregation to four exact counts; everything
    after is a deterministic expression tree (two integer ratios, one
    sqrt). Output: one row ``(n1, x1, n2, x2, p1, p2, lift, z)`` —
    NULL z when either group is empty or p̂ ∈ {0, 1} (no variance).
    """
    g = (
        F.col(group_col) if isinstance(group_col, str) else group_col
    ).cast("boolean")
    s = (
        F.col(success_col)
        if isinstance(success_col, str)
        else success_col
    ).cast("boolean")
    agg = df.filter(g.isNotNull() & s.isNotNull()).agg(
        F.sum(g.cast("long")).alias("n1"),
        F.sum((g & s).cast("long")).alias("x1"),
        F.sum((~g).cast("long")).alias("n2"),
        F.sum((~g & s).cast("long")).alias("x2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    p1 = F.col("x1").cast("double") / n1
    p2 = F.col("x2").cast("double") / n2
    pp = (F.col("x1") + F.col("x2")).cast("double") / (n1 + n2)
    se = F.sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2))
    ok = (
        (F.col("n1") > 0)
        & (F.col("n2") > 0)
        & (pp > 0.0)
        & (pp < 1.0)
    )
    return agg.select(
        "n1",
        "x1",
        "n2",
        "x2",
        F.round(F.when(F.col("n1") > 0, p1), round_dp).alias("p1"),
        F.round(F.when(F.col("n2") > 0, p2), round_dp).alias("p2"),
        F.round(
            F.when((F.col("n1") > 0) & (F.col("n2") > 0), p1 - p2),
            round_dp,
        ).alias("lift"),
        F.round(F.when(ok, (p1 - p2) / se), round_dp).alias("z"),
    )


def lin_ccc(
    df: DataFrame,
    x_col,
    y_col,
    round_dp: int = 6,
) -> DataFrame:
    """Lin's concordance correlation coefficient (Lin 1989) for
    paired continuous measurements — "do two scorers give the SAME
    number", not merely "do they covary": Pearson's r penalized by
    location and scale shift,

        CCC = 2*s_xy / (s_x^2 + s_y^2 + (mean_x - mean_y)^2)

    with POPULATION moments (divide by n — Lin's original estimator).
    The continuous counterpart of ``cohens_kappa``; r alone is 1 for
    y = 2x + 3, CCC is not.

    Exactness: integer-grid contract on both columns; ONE corpus
    aggregation to exact decimal sums (S_x, S_y, S_xx, S_yy, S_xy),
    then the n^2-scaled identity — n^2*CCC_num = 2*(n*S_xy - S_x*S_y)
    etc. — divides exact decimals once.

    Output one row: ``(n, mean_x, mean_y, pearson_r, ccc)`` — NULL
    when n < 2 or either variance is 0 (r) / the denominator is 0
    (ccc).
    """
    from icnarc_to_philips_linkage_spark.operators.profile import (
        _require_integer_valued,
    )

    x = F.col(x_col) if isinstance(x_col, str) else x_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    _require_integer_valued(df, x, "x")
    _require_integer_valued(df, y, "y")
    cx = x.cast("decimal(18,0)")
    cy = y.cast("decimal(18,0)")
    agg = df.filter(x.isNotNull() & y.isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cx).alias("__sx"),
        F.sum(cy).alias("__sy"),
        F.sum((cx * cx).cast("decimal(38,0)")).alias("__sxx"),
        F.sum((cy * cy).cast("decimal(38,0)")).alias("__syy"),
        F.sum((cx * cy).cast("decimal(38,0)")).alias("__sxy"),
    )
    n = F.col("n").cast("decimal(38,0)")
    cov2 = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(
        "double"
    )
    vx2 = (n * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    )
    vy2 = (n * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast(
        "double"
    )
    dm = (F.col("__sx") - F.col("__sy")).cast("double")
    den = vx2 + vy2 + dm * dm
    nn = F.col("n").cast("double")
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("__sx").cast("double") / nn, round_dp).alias(
            "mean_x"
        ),
        F.round(F.col("__sy").cast("double") / nn, round_dp).alias(
            "mean_y"
        ),
        F.round(
            F.when(
                (F.col("n") >= 2) & (vx2 > 0) & (vy2 > 0),
                cov2 / F.sqrt(vx2 * vy2),
            ),
            round_dp,
        ).alias("pearson_r"),
        F.round(
            F.when((F.col("n") >= 2) & (den > 0), 2.0 * cov2 / den),
            round_dp,
        ).alias("ccc"),
    )


def cronbach_alpha(
    df: DataFrame,
    unit_col: str,
    item_col: str,
    value_col,
    round_dp: int = 6,
) -> DataFrame:
    """Cronbach's alpha internal-consistency reliability (Cronbach
    1951) over a LONG (unit, item, value) frame — do the k items of
    a battery (rubric dimensions, judge criteria, quality sub-scores)
    measure one construct:

        alpha = k/(k-1) * (1 - sum_i var(item_i) / var(total))

    with SAMPLE variances over the LISTWISE-COMPLETE units (units
    scoring every one of the k globally observed items — the classic
    treatment; k is data-dependent, so completeness is established
    by count, not pivot).

    Scale shape: one aggregation to the (unit, item) grain (exact
    decimal value sums handle duplicate observations), a unit-grain
    reduction for totals, a broadcast of the 1-row global k to filter
    complete units, then per-item and total variance aggregations off
    exact sums — no pivot, no collect; the item grid (k rows) and the
    scalar frame are the only broadcasts.

    Output one row: ``(k, n_units, alpha)`` — NULL when k < 2, no
    complete units, or zero total variance.
    """
    from icnarc_to_philips_linkage_spark.operators.profile import (
        _require_integer_valued,
    )

    v = F.col(value_col) if isinstance(value_col, str) else value_col
    _require_integer_valued(df, v, "value")
    cell = (
        df.filter(
            v.isNotNull()
            & F.col(unit_col).isNotNull()
            & F.col(item_col).isNotNull()
        )
        .groupBy(
            F.col(unit_col).alias("__u"), F.col(item_col).alias("__i")
        )
        .agg(F.sum(v.cast("decimal(18,0)")).alias("__v"))
        # three consumers (global k, per-unit totals, per-item
        # variances) would each re-scan the corpus; pin the (unit,
        # item) grain once — the global_prefix_sums discipline
        .localCheckpoint(eager=True)
    )
    kk = cell.agg(
        F.countDistinct("__i").cast("long").alias("__k")
    )
    per_unit = cell.groupBy("__u").agg(
        F.count(F.lit(1)).alias("__ni"),
        F.sum("__v").cast("decimal(38,0)").alias("__tot"),
    )
    complete = per_unit.join(F.broadcast(kk), F.col("__ni") == F.col("__k"))
    tot_var = complete.agg(
        F.max("__k").alias("k"),
        F.count(F.lit(1)).alias("n_units"),
        F.sum("__tot").alias("__s1"),
        F.sum(
            (F.col("__tot") * F.col("__tot")).cast("decimal(38,0)")
        ).alias("__s2"),
    )
    item_cells = cell.join(
        complete.select("__u"), "__u", "left_semi"
    )
    item_var = (
        item_cells.groupBy("__i")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__v").cast("decimal(38,0)").alias("__is1"),
            F.sum((F.col("__v") * F.col("__v")).cast("decimal(38,0)")).alias(
                "__is2"
            ),
        )
        .select(
            (
                (
                    F.col("__n").cast("decimal(38,0)") * F.col("__is2")
                    - F.col("__is1") * F.col("__is1")
                ).cast("double")
                / (
                    F.col("__n").cast("double")
                    * (F.col("__n").cast("double") - 1.0)
                )
            ).alias("__iv")
        )
        .agg(
            F.sum(
                F.floor(F.col("__iv") * 1e9 + 0.5).cast("decimal(38,0)")
            ).alias("__qiv")
        )
    )
    j = tot_var.crossJoin(F.broadcast(item_var))
    nu = F.col("n_units").cast("double")
    tv = (
        F.col("n_units").cast("decimal(38,0)") * F.col("__s2")
        - F.col("__s1") * F.col("__s1")
    ).cast("double") / (nu * (nu - 1.0))
    siv = F.col("__qiv").cast("double") / 1e9
    kd = F.col("k").cast("double")
    ok = (F.col("k") >= 2) & (F.col("n_units") >= 2) & (tv > 0)
    return j.select(
        F.col("k").cast("int").alias("k"),
        F.col("n_units").cast("long").alias("n_units"),
        F.round(
            F.when(ok, kd / (kd - 1.0) * (1.0 - siv / tv)), round_dp
        ).alias("alpha"),
    )


def icc_oneway(
    df: DataFrame,
    unit_col: str,
    item_col: str,
    value_col,
    round_dp: int = 6,
) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1,1)
    (Shrout & Fleiss 1979, case 1) over the same LONG (unit, item,
    value) battery as ``cronbach_alpha``: how much of the score
    variance is BETWEEN units rather than within —

        ICC = (MSB - MSW) / (MSB + (k-1) * MSW)

    with MSB = SSB/(n-1), MSW = SSW/(n(k-1)) from the one-way ANOVA
    decomposition over listwise-complete units (every unit scored by
    all k globally observed items; k by count, not pivot).

    Exactness: integer-grid contract; SSB = (k*St2 - G^2/n)/k^2...
    computed as St2/k - G*G/(n*k) and SSW = Sq - St2/k off THREE
    exact decimal sums (G = grand total, St2 = sum of squared unit
    totals, Sq = sum of squared values) — single corpus aggregation
    to the (unit, item) grain (localCheckpoint-pinned, the
    cronbach_alpha shape), then unit-grain algebra in fixed double
    expressions shared with the SQL oracle.

    Output one row: ``(k, n_units, msb, msw, icc)`` — NULL when
    k < 2, fewer than 2 complete units, or the denominator is 0.
    """
    from icnarc_to_philips_linkage_spark.operators.profile import (
        _require_integer_valued,
    )

    v = F.col(value_col) if isinstance(value_col, str) else value_col
    _require_integer_valued(df, v, "value")
    cell = (
        df.filter(
            v.isNotNull()
            & F.col(unit_col).isNotNull()
            & F.col(item_col).isNotNull()
        )
        .groupBy(
            F.col(unit_col).alias("__u"), F.col(item_col).alias("__i")
        )
        .agg(
            F.sum(v.cast("decimal(18,0)")).alias("__v"),
            F.sum(
                (v.cast("decimal(18,0)") * v.cast("decimal(18,0)"))
                .cast("decimal(38,0)")
            ).alias("__vq"),
            F.count(F.lit(1)).alias("__c"),
        )
        .localCheckpoint(eager=True)
    )
    kk = cell.agg(F.countDistinct("__i").cast("long").alias("__k"))
    per_unit = cell.groupBy("__u").agg(
        F.count(F.lit(1)).alias("__ni"),
        F.sum("__c").alias("__nobs"),
        F.sum("__v").cast("decimal(38,0)").alias("__tot"),
        F.sum("__vq").alias("__sq"),
    )
    complete = per_unit.join(
        F.broadcast(kk),
        (F.col("__ni") == F.col("__k"))
        & (F.col("__nobs") == F.col("__k")),
    )
    agg = complete.agg(
        F.max("__k").alias("k"),
        F.count(F.lit(1)).alias("n_units"),
        F.sum("__tot").alias("__g"),
        F.sum(
            (F.col("__tot") * F.col("__tot")).cast("decimal(38,0)")
        ).alias("__st2"),
        F.sum("__sq").alias("__sqq"),
    )
    kd = F.col("k").cast("double")
    nd = F.col("n_units").cast("double")
    g = F.col("__g").cast("double")
    st2 = F.col("__st2").cast("double")
    sq = F.col("__sqq").cast("double")
    ssb = st2 / kd - g * g / (nd * kd)
    ssw = sq - st2 / kd
    msb = ssb / (nd - 1.0)
    msw = ssw / (nd * (kd - 1.0))
    den = msb + (kd - 1.0) * msw
    ok = (
        (F.col("k") >= 2)
        & (F.col("n_units") >= 2)
        & (den != 0)
    )
    return agg.select(
        F.col("k").cast("int").alias("k"),
        F.col("n_units").cast("long").alias("n_units"),
        F.round(F.when(ok, msb), round_dp).alias("msb"),
        F.round(F.when(ok, msw), round_dp).alias("msw"),
        F.round(F.when(ok, (msb - msw) / den), round_dp).alias("icc"),
    )
