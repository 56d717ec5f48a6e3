"""Iterative k-means over embedding columns — the engine's exemplar of a
genuinely non-SQL-expressible (iterative) algorithm, built purely from
DataFrame ops: assign = literal-centroid argmin (narrow map, zero
shuffle), update = posexplode + per-(cluster, pos) mean. Used for
curation tasks (cluster sampling, dedup blocking, coverage analysis) on
training corpora.

Scale shape per iteration: assignment is embarrassingly parallel (the
k×dim centroids fold into the plan as literals), and the only shuffle
is the update aggregate keyed on (cluster, position) — map-side partial
means make its shuffle cardinality k·dim·partitions regardless of
corpus size. The corpus is cached across iterations; convergence is
measured by centroid movement, not by re-reading data.

Determinism: initial centroids are the k lowest-id vectors (no RNG),
distances round to 6dp before each argmin, and centroid means cast to
float32 — so the whole training trajectory is stable across runs,
partitionings AND engines, and the registered query carries a FULL
DuckDB oracle that unrolls the iterations (plans/llm.py _kmeans_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icnarc_to_philips_linkage_spark.operators.scale import (
    bounded_global_window,
    width,
)

from icnarc_to_philips_linkage_spark.operators.similarity import norm_sq


def _assign(points: DataFrame, cents: list) -> DataFrame:
    """Nearest centroid per point by squared euclidean distance:
    |v|² − 2·v·c + |c|² (point norms precomputed, centroid norms
    driver-side). The collected centroids (k×dim, tiny) fold into the
    plan as literal arrays, so assignment is a NARROW map — no join, no
    shuffle, no row blowup; argmin is array_min over (dist², cluster)
    structs, whose field-order comparison gives a deterministic
    lowest-cluster tie-break. dist² rounds to 6dp before the argmin:
    centroid means can differ across engines in the last ulp, and the
    rounding (plus the float32 centroid cast in ``_update``) absorbs
    that noise so assignments — and the unrolled DuckDB oracle replay
    of the whole training loop — are engine-identical."""
    # Single typed Literal nodes (not k·dim CreateArray expressions):
    # keeps the analyzed plan and generated code small and compile-fast.
    cent_vecs = F.lit([[float(x) for x in c.centroid] for c in cents])
    cent_nsq = F.lit([float(c.c_nsq) for c in cents])
    cent_ids = F.lit([int(c.cluster) for c in cents])
    scored = F.transform(
        cent_vecs,
        lambda c, i: F.struct(
            F.round(
                F.col("p_nsq")
                - 2.0
                * F.aggregate(
                    F.zip_with("embedding", c, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                + cent_nsq[i],
                6,
            ).alias("dist_sq"),
            cent_ids[i].alias("cluster"),
        ),
    )
    return points.withColumn("cluster", F.array_min(scored)["cluster"])


def _update(assigned: DataFrame) -> DataFrame:
    """New centroid = element-wise mean per cluster."""
    exploded = assigned.select(
        "cluster", F.posexplode("embedding").alias("pos", "v")
    )
    means = exploded.groupBy("cluster", "pos").agg(
        F.avg(F.col("v").cast("double")).alias("m")
    )
    return (
        means.groupBy("cluster")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
        )
        .select(
            "cluster",
            F.expr("transform(pm, x -> cast(x.m as float))").alias("centroid"),
        )
        .withColumn("c_nsq", norm_sq("centroid"))
    )


def kmeans(
    df: DataFrame,
    k: int = 8,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Returns (vec_id, cluster). Deterministic lowest-id init; fixed
    iteration count (driver-side loop — each iteration is one lazy plan,
    materialized via the centroid collect, which is k rows)."""
    points = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        norm_sq(vec_col).alias("p_nsq"),
    ).cache()
    w = bounded_global_window("vec_id")
    cents = (
        points.orderBy("vec_id")
        .limit(k)
        .withColumn("cluster", F.row_number().over(w) - 1)
        .select(
            "cluster",
            F.col("embedding").alias("centroid"),
            F.col("p_nsq").alias("c_nsq"),
        )
    )
    # materialize centroids each round: k rows to the driver, folded
    # back into the next assignment plan as literals (no re-broadcast
    # join — see _assign)
    cents = cents.collect()
    for _ in range(max_iter):
        assigned = _assign(points, cents)
        cents = _update(assigned).collect()
    return _assign(points, cents).select("vec_id", "cluster")


def cluster_sizes(assignments: DataFrame) -> DataFrame:
    return assignments.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))


def power_iteration_top_pc(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 5,
) -> tuple[list[float], list[int], int, int]:
    """Top principal direction of the uncentered second-moment matrix
    M = Σ x·xᵀ by distributed power iteration — the PCA/whitening
    primitive (dominant embedding direction, anisotropy diagnosis,
    all-but-the-top post-processing) computed WITHOUT ever
    materializing M or collecting the corpus.

    Per iteration (the gd_train loop discipline): project y = x·v with
    the current direction as dim literals (map-only), reduce the
    corpus to dim exact-integer sums z_j = Σ quant(y·x_j) (the 1e-12
    CUSUM quantizer — order-independent, partition-layout-invariant),
    and renormalize ON THE INTEGERS: ‖z‖² = Σ z_j² stays an exact
    Python/HUGEINT integer, and v_j = double(z_j) / sqrt(double(‖z‖²))
    — two deterministically-rounded casts and one exactly-rounded
    IEEE division, so every iteration is bit-identical in the DuckDB
    oracle's unrolled replay (the 1e-12 scales cancel in v).

    Returns ``(v, z_int, norm2, n)``: the final unit direction, its
    pre-normalization integer image, ‖z‖² and the row count — enough
    for the caller to emit the Rayleigh-quotient eigenvalue estimate
    ``sqrt(norm2)/1e12/n`` with the same arithmetic the oracle uses.

    Scale shape: iters × (one codegen projection + one map-combined
    aggregation to dim decimals); the direction never exceeds dim
    driver doubles. No corpus joins, no windows, no collects beyond
    the 1-row gradient frame.
    """
    import math

    from icnarc_to_philips_linkage_spark.functions.expressions import quantize_exact

    # Persisted at the training width (scale.width): the loop re-scans
    # this frame every iteration.
    base = (
        df.select(F.col(vec_col).alias("__v"))
        .filter(F.col("__v").isNotNull() & (F.size("__v") == dim))
        .repartition(width(df.sparkSession, 4))
        .persist()
    )
    v = [1.0 / math.sqrt(float(dim))] * dim
    z_int: list[int] = [0] * dim
    norm2 = 0
    n = 0
    try:
        for _ in range(iters):
            vlit = F.array(*[F.lit(x) for x in v])
            projected = base.select(
                "__v",
                F.aggregate(
                    F.zip_with(
                        "__v", vlit, lambda a, b: a.cast("double") * b
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("__y"),
            )
            # z_j as GROUPED ROWS, not dim aggregate columns: a
            # 64-column decimal aggregate blows past codegen's field
            # budget and costs ~1 s of plan+codegen per iteration
            # (the eval_auc_bootstrap pathology r12 fixed the same
            # way). posexplode pairs each x_j with its position; the
            # per-position decimal sums are exact integers, so the
            # regrouping is bit-identical to the column form.
            # element_at(v, j+1) == posexplode pos j by construction.
            rows = (
                projected.select(
                    "__y", F.posexplode("__v").alias("__j", "__xj")
                )
                .groupBy("__j")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        quantize_exact(
                            F.col("__y") * F.col("__xj").cast("double")
                        )
                    ).alias("z"),
                )
                .collect()
            )
            if not rows:
                n = 0
                break
            n = int(rows[0]["n"])
            zmap = {int(r["__j"]): int(r["z"] or 0) for r in rows}
            z_int = [zmap.get(j, 0) for j in range(dim)]
            norm2 = sum(z * z for z in z_int)
            if norm2 == 0:
                break
            nrm = math.sqrt(float(norm2))
            v = [float(z) / nrm for z in z_int]
        return v, z_int, norm2, n
    finally:
        base.unpersist()


def anisotropy_report(
    df: DataFrame,
    v: list[float],
    norm2: int,
    n: int,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Embedding anisotropy diagnostic from a ``power_iteration_top_pc``
    result (Mu & Viswanath 2018, "all-but-the-top": contextual/static
    embedding spaces concentrate mass on a few dominant directions,
    hurting cosine retrieval): reports the dominant eigenvalue, the
    mean squared norm (= trace(M)/n, the total variance budget), the
    explained-variance ratio, and the mean |cos(x, v_top)| — how much
    of the corpus leans on the top direction.

    ONE aggregation over the corpus (squared norms and |cos| both
    quantized to exact integer grids before summing — order-independent
    and oracle-identical); the direction and its integer image arrive
    as literals from the power iteration, so nothing iterative runs
    here. Output: one row ``(n_vectors, eigenvalue, trace_mean,
    explained_ratio, mean_abs_cos_top)``.
    """
    import math

    base = df.select(F.col(vec_col).alias("__v")).filter(
        F.col("__v").isNotNull() & (F.size("__v") == dim)
    )
    vlit = F.array(*[F.lit(x) for x in v])
    nsq = F.aggregate(
        F.transform("__v", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    y = F.aggregate(
        F.zip_with("__v", vlit, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    abscos = F.abs(y / F.sqrt(nsq))
    q12 = (
        F.signum(nsq) * F.floor(F.abs(nsq) * F.lit(1e12) + F.lit(0.5))
    ).cast("decimal(38,0)")
    agg = base.agg(
        F.sum(q12).alias("__snsq"),
        F.sum(F.round(abscos * F.lit(1e6)).cast("long")).alias("__scos"),
        F.count(F.lit(1)).alias("__n"),
    )
    lam = math.sqrt(float(norm2)) / 1e12 / n if n and norm2 else None
    trace_mean = (
        F.col("__snsq").cast("double") / F.lit(1e12) / F.col("__n")
    )
    return agg.select(
        F.col("__n").alias("n_vectors"),
        F.round(F.lit(lam), 6).alias("eigenvalue"),
        F.round(trace_mean, 6).alias("trace_mean"),
        F.round(F.lit(lam) / trace_mean, 6).alias("explained_ratio"),
        F.round(
            F.col("__scos").cast("double") / F.col("__n") / F.lit(1e6), 6
        ).alias("mean_abs_cos_top"),
    )
