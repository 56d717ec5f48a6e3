"""Distributed gradient-descent training (the iterative-algorithm
pattern: PageRank's exact-decimal per-iteration aggregates + the PQ
k-means unrolled-training oracle, applied to supervised learning).

Design provenance: the reference repo has no model training; this is
part of the beyond-reference training-data toolkit (brief: operations
a large-scale pipeline needs). The engineering question a 100 TB user
actually has — "can I fit a cheap linear quality/contamination
classifier WITHOUT collecting the corpus?" — is answered the PageRank
way: per iteration, ONE map-combined aggregation reduces the corpus to
k+1 exact decimal gradient sums; the weight vector lives on the driver
as a plan literal (k+1 doubles, bounded), and nothing else moves.

Engine-exactness (the whole point — the DuckDB oracle replays training
bit-identically, unrolled one CTE pair per iteration):

- The link is the FAST SIGMOID σ(z) = 0.5·(1 + z/(1+|z|)) — only
  +,−,×,/,abs, all exactly-rounded IEEE ops, so per-row activations
  are bit-identical in any engine. exp()-based logistic is NOT
  portable (libm last-ulp differences); the fast sigmoid is the
  standard cheap substitute with the same shape.
- Per-row gradient contributions quantize to the 1e-12 grid in pure
  binary arithmetic (`sign·floor(|v|·1e12 + 0.5)`, the CUSUM/Holt
  quantizer) and become exact INTEGERS, so their sum is
  order-independent — partition layout cannot change the result.
- The weight update runs in driver doubles with one expression shape:
  w ← w − lr·(S/1e12)/n, mirrored verbatim in the oracle's SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icnarc_to_philips_linkage_spark.functions.expressions import (
    QUANT_GRID,
    quantize_exact,
)
from icnarc_to_philips_linkage_spark.operators.scale import width


def fast_sigmoid(z):
    """σ(z) = 0.5·(1 + z/(1+|z|)) — the arithmetic-only squashing
    function (range (0,1), σ(0)=0.5), bit-identical across engines."""
    return F.lit(0.5) * (F.lit(1.0) + z / (F.lit(1.0) + F.abs(z)))


def gd_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lr: float = 0.5,
    iters: int = 5,
) -> list[float]:
    """Train a linear classifier by full-batch gradient descent and
    return ``[bias, w_1, …, w_k]`` (the last snapshot of
    ``gd_train_trajectory``). Features should be pre-scaled to
    O(1) by the caller (the registered query maps each onto [0, 1]);
    the label is 0/1. Gradient of squared error through the fast
    sigmoid is simplified to the logistic-style form
    g_j = Σ (σ(z) − y)·x_j — the standard cheap surrogate.

    Scale shape: the feature projection is persisted once (the
    PageRank loop-invariant discipline), each iteration is ONE
    aggregation to k+1 exact decimal sums collected as a 1-row plan
    literal, and the weight vector never exceeds k+1 doubles. At
    100 TB: iters × one map-combined shuffle, zero corpus joins.

    Pre-scaling is VALIDATED, not assumed: since |σ(z) − y| < 1, a
    per-row contribution is bounded by max|x_j|, and the 1e-12
    quantizer is only value-exact while |v|·1e12 < 2^53 (i.e.
    |x_j| ≲ 9007). One cheap aggregation over the persisted feature
    frame checks max|x_j| before the first iteration and raises
    ``ValueError`` on unscaled input instead of silently degrading.
    """
    return gd_train_trajectory(
        df, feature_cols, label_col, lr=lr, iters=iters
    )[-1]


def gd_train_trajectory(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    lr: float = 0.5,
    iters: int = 5,
) -> list[list[float]]:
    """``gd_train`` with the full training trajectory: returns the
    weight vector AFTER each iteration, ``[w(1), …, w(iters)]`` (each
    ``[bias, w_1, …, w_k]``). The last element is exactly what
    ``gd_train`` returns — same loop, same arithmetic, one list
    append per iteration (k+1 driver doubles each, bounded).

    The trajectory is what training-dynamics data maps need (dataset
    cartography, Swayamdipta et al. 2020: per-example confidence /
    variability across epochs) — scoring the corpus at each snapshot
    stays map-only because every snapshot is a literal vector.
    """
    cols = [F.lit(1.0).alias("__x0")] + [
        F.col(c).cast("double").alias(f"__x{i+1}")
        for i, c in enumerate(feature_cols)
    ]
    cond = F.col(label_col).isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    feats = (
        df.filter(cond)
        .select(*cols, F.col(label_col).cast("double").alias("__y"))
        .repartition(width(df.sparkSession, 4))
        .persist()
    )
    try:
        k = len(feature_cols) + 1
        # quantizer-exactness guard: |x_j|·1e12 must stay < 2^53
        max_abs_x = 2.0**53 / QUANT_GRID  # ≈ 9007.2
        xmax_row = feats.agg(
            *[
                F.max(F.abs(F.col(f"__x{j}"))).alias(f"m{j}")
                for j in range(1, k)
            ]
        ).collect()
        if xmax_row:
            for j in range(1, k):
                m = xmax_row[0][f"m{j}"]
                if m is not None and m > max_abs_x:
                    raise ValueError(
                        f"gd_train: feature {feature_cols[j - 1]!r} has "
                        f"max|x| = {m:.4g} > {max_abs_x:.4g}; the 1e-12 "
                        "gradient quantizer is only exact below 2^53. "
                        "Pre-scale features to O(1) before training."
                    )
        w = [0.0] * k
        traj: list[list[float]] = []
        for _ in range(iters):
            z = F.lit(w[0]) * F.col("__x0")
            for j in range(1, k):
                z = z + F.lit(w[j]) * F.col(f"__x{j}")
            resid = fast_sigmoid(z) - F.col("__y")
            row = feats.agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(quantize_exact(resid * F.col(f"__x{j}"))).alias(f"s{j}")
                    for j in range(k)
                ],
            ).collect()[0]
            n = float(row["n"])
            if n == 0:
                break
            w = [
                w[j] - lr * (float(row[f"s{j}"]) / QUANT_GRID) / n
                for j in range(k)
            ]
            traj.append(list(w))
        if not traj:  # empty input: the zero vector is the only state
            traj.append(list(w))
        return traj
    finally:
        feats.unpersist()


def quantile_gd_train_trajectory(
    df: DataFrame,
    feature_cols: list[str],
    y_col: str,
    tau: float,
    lr: float = 0.5,
    iters: int = 10,
) -> list[list[float]]:
    """Linear QUANTILE regression (Koenker & Bassett 1978) by
    full-batch subgradient descent on the pinball loss
    ``ρ_τ(r) = r·(τ − 1[r < 0])`` with ``r = y − (b + w·x)``; returns
    the weight vector after each iteration (``gd_train_trajectory``'s
    contract, same scale shape: per iteration ONE map-combined
    aggregation to k+1 exact decimal sums, weights live as driver
    literals).

    Engine-exactness: the subgradient contribution per row is
    ``(1[y < z] − τ)·x_j`` — the indicator is an exact double
    comparison (the measure-zero tie r = 0 takes the left branch,
    indicator 0, deterministically in both engines), τ a short
    decimal literal, so contributions quantize to exact 1e-12
    integers and the update ``w ← w − lr·(S/1e12)/n`` replays
    bit-identically in the unrolled DuckDB oracle. Same
    max|x| ≤ 2^53/1e12 pre-scaling guard as ``gd_train`` (|ind − τ|
    ≤ 1 bounds each contribution by |x_j|); ``y`` enters only
    through the comparison, so it needs no guard.
    """
    cols = [F.lit(1.0).alias("__x0")] + [
        F.col(c).cast("double").alias(f"__x{i+1}")
        for i, c in enumerate(feature_cols)
    ]
    cond = F.col(y_col).isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    feats = (
        df.filter(cond)
        .select(*cols, F.col(y_col).cast("double").alias("__y"))
        .repartition(width(df.sparkSession, 4))
        .persist()
    )
    try:
        k = len(feature_cols) + 1
        max_abs_x = 2.0**53 / QUANT_GRID
        # intercept-only fits (k = 1) have no feature to guard
        xmax_row = (
            feats.agg(
                *[
                    F.max(F.abs(F.col(f"__x{j}"))).alias(f"m{j}")
                    for j in range(1, k)
                ]
            ).collect()
            if k > 1
            else []
        )
        if xmax_row:
            for j in range(1, k):
                m = xmax_row[0][f"m{j}"]
                if m is not None and m > max_abs_x:
                    raise ValueError(
                        f"quantile_gd_train: feature "
                        f"{feature_cols[j - 1]!r} has max|x| = "
                        f"{m:.4g} > {max_abs_x:.4g}; pre-scale to O(1)."
                    )
        w = [0.0] * k
        traj: list[list[float]] = []
        for _ in range(iters):
            z = F.lit(w[0]) * F.col("__x0")
            for j in range(1, k):
                z = z + F.lit(w[j]) * F.col(f"__x{j}")
            resid = (F.col("__y") < z).cast("double") - F.lit(tau)
            row = feats.agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(quantize_exact(resid * F.col(f"__x{j}"))).alias(f"s{j}")
                    for j in range(k)
                ],
            ).collect()[0]
            n = float(row["n"])
            if n == 0:
                break
            w = [
                w[j] - lr * (float(row[f"s{j}"]) / QUANT_GRID) / n
                for j in range(k)
            ]
            traj.append(list(w))
        if not traj:
            traj.append(list(w))
        return traj
    finally:
        feats.unpersist()


def pinball_loss_expr(
    feature_cols: list[str], weights: list[float], tau: float, y_col: str
):
    """Per-row pinball loss ρ_τ(y − z) as a Column, with the SAME
    left-associated z and exact indicator as training — feed through
    ``quantize_exact`` + sum for the engine-exact mean loss."""
    z = F.lit(weights[0])
    for j, c in enumerate(feature_cols):
        z = z + F.lit(weights[j + 1]) * F.col(c).cast("double")
    r = F.col(y_col).cast("double") - z
    ind = (r < F.lit(0.0)).cast("double")
    return r * (F.lit(tau) - ind)


def gd_score(
    df: DataFrame,
    feature_cols: list[str],
    weights: list[float],
    score_col: str = "score",
) -> DataFrame:
    """Apply a trained weight vector: appends σ(w·x) as ``score_col``.
    Map-only — the weights are literals, nothing shuffles."""
    z = F.lit(weights[0])
    for j, c in enumerate(feature_cols):
        z = z + F.lit(weights[j + 1]) * F.col(c).cast("double")
    return df.withColumn(score_col, fast_sigmoid(z))


def cartography_map(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    trajectory: list[list[float]],
    conf_hi: float = 0.55,
    conf_lo: float = 0.45,
    var_hi: float = 0.02,
    round_dp: int = 6,
) -> DataFrame:
    """Dataset cartography (Swayamdipta et al. 2020): per-example
    training dynamics over a ``gd_train_trajectory`` — confidence =
    mean probability assigned to the TRUE label across snapshots,
    variability = its population std — bucketed into the paper's
    regions: ``easy_to_learn`` (high conf, low var), ``hard_to_learn``
    (low conf, low var — the mislabeled-candidate region),
    ``ambiguous`` (high var — the most training-valuable region), and
    ``middle`` for the remainder. The data map is THE standard triage
    for which training examples to keep / re-label / upweight.

    Every snapshot is a literal weight vector, so scoring all T
    snapshots is ONE map-only projection (T sigmoid expressions fused
    into whole-stage codegen) — no joins, no shuffles, corpus scanned
    once. Mean and std use explicit left-associated sums over the T
    per-snapshot terms, and conf/var are rounded to the 1e-6 grid
    BEFORE bucketing, so the map is bit-reproducible in the unrolled
    DuckDB oracle (the ``gd_train`` engine-exactness discipline).

    Returns the input columns plus ``confidence``, ``variability``,
    ``bucket``.
    """
    if not trajectory:
        raise ValueError("cartography_map needs ≥ 1 trajectory snapshot")
    t_n = len(trajectory)
    y = F.col(label_col).cast("int")
    pcs = []
    for w in trajectory:
        z = F.lit(w[0])
        for j, c in enumerate(feature_cols):
            z = z + F.lit(w[j + 1]) * F.col(c).cast("double")
        p = fast_sigmoid(z)
        pcs.append(F.when(y == 1, p).otherwise(F.lit(1.0) - p))
    mean_raw = pcs[0]
    for pc in pcs[1:]:
        mean_raw = mean_raw + pc
    mean_raw = mean_raw / F.lit(float(t_n))
    msq_raw = pcs[0] * pcs[0]
    for pc in pcs[1:]:
        msq_raw = msq_raw + pc * pc
    msq_raw = msq_raw / F.lit(float(t_n))
    var_raw = msq_raw - mean_raw * mean_raw
    conf = F.round(mean_raw, round_dp)
    vari = F.round(F.sqrt(F.greatest(var_raw, F.lit(0.0))), round_dp)
    bucket = (
        F.when(vari >= var_hi, F.lit("ambiguous"))
        .when(conf >= conf_hi, F.lit("easy_to_learn"))
        .when(conf < conf_lo, F.lit("hard_to_learn"))
        .otherwise(F.lit("middle"))
    )
    return df.select(
        "*",
        conf.alias("confidence"),
        vari.alias("variability"),
        bucket.alias("bucket"),
    )
