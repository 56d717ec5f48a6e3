"""Iterative graph analytics as DataFrame fixpoint loops.

The engine's connected-components (dedup_scale, min-label propagation)
covers the clustering side; this module adds PageRank — the canonical
"Spark does iterative graph" workload (co-purchase importance, kNN-
graph centrality for corpus curation, link spam screens).

Design for 100 TB:
- Each iteration is ONE edge-join + ONE aggregation — the classic
  message-passing shape; k iterations = k passes, no driver-side data.
- The iteration count is FIXED (power iteration with explicit k), so
  the lineage is a bounded plan, checkpointed every few steps to stop
  Catalyst re-analysis cost growing with k.
- Determinism across engines: ranks are SCALED INTEGERS (picorank,
  1e-12 units) and every step is integer division/multiplication — so
  each iteration's output is bit-exact in any engine and float
  summation order can never drift the ranks. The DuckDB oracle
  replays the identical unrolled integer iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


RANK_SCALE = 10**12  # picorank units: all rank mass as exact integers


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
    checkpoint_every: int = 3,
    broadcast_node_limit: int = 1_000_000,
    assume_distinct: bool = False,
) -> DataFrame:
    """Power-iteration PageRank over a DIRECTED edge list (pass both
    directions for an undirected walk). Dangling mass (nodes with no
    out-edges) is dropped, teleport keeps every node alive — ranks
    then sum to < 1, the usual simplification; mirror it when
    comparing. Returns (node, rank) with rank = picorank / 1e12 as an
    exact double.

    Determinism: ranks live in SCALED INTEGERS (picorank units) and
    every step is integer arithmetic — contributions are ``rank DIV
    outdeg``, damping applies in basis points — so the fixpoint is
    bit-identical in ANY engine; no floating rounding exists to tie-
    break differently (a 12dp double ROUND was observed to disagree
    between engines exactly at a .5 boundary). Damping must be a
    whole number of basis points.

    Scale shape per iteration: edges ⋈ ranks on src (one shuffle on
    src), aggregate contributions by dst (one shuffle on dst), left
    join back to the node set so in-degree-0 nodes keep the teleport
    term. N (node count) folds in as a literal — one scalar aggregate
    at plan build, like the timeseries bound collects."""
    d_bp = round(damping * 10_000)
    if abs(d_bp / 10_000 - damping) > 1e-12:
        raise ValueError("damping must be a whole number of basis points")
    # loop invariants pinned ONCE: e/nodes/outdeg feed every iteration
    # (10+ consumers for k=5) — without the materialization the edge
    # dedup and degree aggregation re-run per iteration and the whole
    # run costs k× what it should (GraphX caches its edge RDD for
    # exactly this reason). e is persisted (partitioning-preserving);
    # the small node-sized frames localCheckpoint, which also truncates
    # lineage so plan analysis stays O(1) in k.
    from pyspark import StorageLevel

    # assume_distinct skips the parallel-edge dedup when the CALLER
    # already guarantees uniqueness — dedup before any id decoration
    # (e.g. on raw integer key pairs) shuffles far narrower rows than
    # deduping decorated string ids here would
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if not assume_distinct:
        e = e.distinct()
    # hash-partition the edge cache ON dst: the per-iteration
    # contribution aggregate groups by dst, and a cached frame KEEPS
    # its outputPartitioning (unlike localCheckpoint, which erases it)
    # — so all k contribution aggregates plan with ZERO exchanges; the
    # edge set shuffles exactly once for the whole run. The rank join
    # is broadcast (narrow), so it cannot disturb the distribution.
    e = e.repartition(F.col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(None).cast("double"))
    outdeg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint(eager=True)
    )
    teleport = ((10_000 - d_bp) * RANK_SCALE) // (10_000 * n)
    ranks = nodes.withColumn(
        "prank", F.lit(RANK_SCALE // n).cast("long")
    )
    # rank/degree tables are |nodes|-sized; when they fit (the common
    # case — node sets are orders of magnitude smaller than edge sets)
    # broadcasting them makes each iteration's edge join MAP-SIDE: the
    # edge table never shuffles, only the per-dst combine does. Past
    # the limit (billion-node graphs) fall back to shuffle joins.
    bc = (lambda df: F.broadcast(df)) if n <= broadcast_node_limit else (
        lambda df: df
    )
    for i in range(iterations):
        contrib = (
            e.join(bc(ranks), e["src"] == ranks["node"])
            .join(bc(outdeg), "src")
            .select(
                "dst",
                F.expr("prank DIV outdeg").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            # contrib is <= |nodes| rows — same broadcast rule as ranks
            nodes.join(bc(contrib), nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({d_bp} * COALESCE(in_sum, 0L)) DIV 10000"
                    )
                ).cast("long").alias("prank"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            # bounded-lineage checkpoint: keeps analysis cost O(1) per
            # iteration instead of O(i); an eager local materialization
            # of |nodes| rows
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        "node", (F.col("prank") / F.lit(float(RANK_SCALE))).alias("rank")
    )


def triangle_count(
    df: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Exact global triangle count + transitivity via degree-ordered
    edge orientation (the Cohen / Suri-Vassilvitskii MapReduce
    formulation): orient each undirected edge from its lower (degree,
    node) endpoint to the higher, enumerate wedges by joining the
    oriented adjacency with itself on the shared source, and keep the
    wedges whose closing (b, c) pair is itself an oriented edge. Each
    triangle is counted EXACTLY once (its minimum-(degree, node)
    corner roots the wedge), and the orientation bounds wedge count by
    O(m^1.5) instead of Σ deg² — the difference between tractable and
    exploding on a skewed web graph where one hub would otherwise
    root deg² wedges.

    All shuffles key on node ids (degree join, wedge join, closing
    join); counts are exact integers; ``transitivity = 3·T / W`` with
    ``W = Σ d(d−1)/2`` open+closed wedges divides two exact longs.

    Output one row: ``(n_nodes, n_edges, n_triangles, n_wedges,
    transitivity)`` — NULL transitivity on a wedge-free graph.

    The edge frame is PERSISTED (released by the caller's
    ``clearCache()``, the rule in ``plans.tables``):
    ``und`` feeds four consumers (degree counts, the orientation join,
    the edge-count aggregate) and ``oriented`` three (both wedge sides
    plus the closing join) — without the pins every consumer replays
    the caller's whole edge-derivation pipeline (for the kNN graph:
    the LSH bucket self-join and top-k), k× the cost for zero benefit.
    Same discipline as ``pagerank``'s loop-invariant edge cache; both
    frames are edge-sized, orders of magnitude under the corpus.
    """
    from pyspark import StorageLevel

    a = F.col(src_col).cast("string")
    b = F.col(dst_col).cast("string")
    und = (
        df.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e = und.join(
        deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    lo_first = F.struct(F.col("du"), F.col("u")) < F.struct(
        F.col("dv"), F.col("v")
    )
    oriented = e.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(lo_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    o1 = oriented.select(
        "s", F.col("t").alias("b"), F.col("dt").alias("db")
    )
    o2 = oriented.select(
        "s", F.col("t").alias("c"), F.col("dt").alias("dc")
    )
    wedges = (
        o1.join(o2, "s")
        .filter(
            F.struct(F.col("db"), F.col("b"))
            < F.struct(F.col("dc"), F.col("c"))
        )
        .select("b", "c")
    )
    tri = wedges.join(
        oriented.select(F.col("s").alias("b"), F.col("t").alias("c")),
        ["b", "c"],
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.coalesce(
                F.sum(F.expr("CAST(d * (d - 1) DIV 2 AS LONG)")), F.lit(0)
            ).alias("n_wedges"),
        )
    )
    return stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_wedges",
        F.when(
            F.col("n_wedges") > 0,
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ),
        ).alias("transitivity"),
    )


def resource_allocation_links(
    edges: DataFrame,
    src_col: str = "node_id",
    dst_col: str = "neighbor_id",
    max_in_degree: int = 32,
    top_k: int = 20,
) -> DataFrame:
    """Link prediction over a directed kNN graph by the Resource
    Allocation index (Zhou, Lü & Zhang 2009): for a non-adjacent pair
    (u, w) sharing out-neighbors, ``RA(u,w) = Σ_{v ∈ Γ(u)∩Γ(w)}
    1/deg(v)`` — the Adamic-Adar family member with the 1/deg weight
    instead of 1/ln(deg), chosen here because ``10^12 // indeg(v)`` is
    an exact INTEGER per common neighbor, so pair scores are
    order-independent integer sums (no libm log in the scoring path)
    and bit-reproducible in the DuckDB oracle.

    Scale shape: out-degree is ≤ k by construction (top-k edges), and
    the wedge join fans out as Σ_v indeg(v)² — so hub targets (the
    uninformative high-degree nodes every LP method down-weights) are
    EXCLUDED up front by ``max_in_degree``, bounding the explosion the
    same way the LSH ``max_bucket_size`` guard bounds band joins.
    Known-adjacent pairs leave via one anti-join against the
    symmetrized edge set. Top-k selection is TakeOrderedAndProject.

    Output: ``(node_a, node_b, n_common, ra_score)`` with
    ``node_a < node_b``, ranked by (ra_score desc, node_a, node_b).
    """
    # NOT pinned (measured): the three consumers' subtrees are
    # identical up to the distinct, so AQE's runtime exchange reuse
    # already deduplicates the edge derivation — persisting e was
    # measured SLOWER (keep-min ~2.8 → ~4.0 s at sf0.1 on the kNN
    # graph: materialization cost without saved work)
    e = edges.select(
        F.col(src_col).alias("__u"), F.col(dst_col).alias("__v")
    ).distinct()
    indeg = e.groupBy(F.col("__v").alias("__t")).agg(
        F.count(F.lit(1)).alias("__indeg")
    )
    ok = indeg.filter(F.col("__indeg") <= max_in_degree).select(
        "__t",
        # true integer division (`div`), NOT double-divide-then-cast:
        # for large divisors the double quotient can round across an
        # integer boundary and diverge from the oracle's `//`
        F.expr("1000000000000L div __indeg").alias("__wq"),
    )
    kept = e.join(F.broadcast(ok), e["__v"] == ok["__t"]).select(
        "__u", "__v", "__wq"
    )
    a = kept.alias("a")
    b = kept.alias("b")
    wedges = a.join(
        b,
        (F.col("a.__v") == F.col("b.__v"))
        & (F.col("a.__u") < F.col("b.__u")),
    ).groupBy(
        F.col("a.__u").alias("node_a"), F.col("b.__u").alias("node_b")
    ).agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum(F.col("a.__wq").cast("decimal(38,0)")).alias("__score_q"),
    )
    adj = e.select(
        F.least("__u", "__v").alias("node_a"),
        F.greatest("__u", "__v").alias("node_b"),
    ).distinct()
    return (
        wedges.join(adj, ["node_a", "node_b"], "left_anti")
        .select(
            "node_a",
            "node_b",
            "n_common",
            F.round(F.col("__score_q").cast("double") / F.lit(1e12), 6)
            .alias("ra_score"),
        )
        .orderBy(F.desc("ra_score"), "node_a", "node_b")
        .limit(top_k)
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "node_id",
    dst_col: str = "neighbor_id",
    iters: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007) over an (optionally directed) edge list: initialize each
    node's label to its own id, then for ``iters`` rounds every node
    adopts the most frequent label among its neighbors — the
    linear-time community baseline for kNN-graph corpus structure
    (topic islands, template families) one level softer than
    connected components.

    Determinism (LPA's classic weakness, fixed here): ties break to
    the SMALLEST label via a single integer-struct ``min`` aggregate
    (min over (−count, label)), and rounds are synchronous — so the
    trajectory is partition-layout-invariant, integer-exact, and
    replayable round-for-round in the DuckDB oracle.

    Scale shape per round: ONE edge⋈labels join (keyed on the
    neighbor) + one (node, label) count + one per-node argmin — the
    PageRank message-passing shape; k rounds = k bounded passes, no
    driver data. Returns the final (node, label) frame.
    """
    e = edges.select(
        F.col(src_col).alias("__s"), F.col(dst_col).alias("__d")
    )
    # NOT pinned (r12 tried a persist here, r13 reverted it): the
    # symmetrized edge list is the loop invariant, but AQE's runtime
    # exchange reuse already deduplicates the identical edge-derivation
    # subtrees (the resource_allocation_links adjudication), and the
    # persist regressed in BOTH the driver bench (3.92 → 4.86 s) and
    # the keep-min (3.21 → 4.03 s) — materialization cost without
    # saved work.
    sym = e.unionByName(
        e.select(F.col("__d").alias("__s"), F.col("__s").alias("__d"))
    ).distinct()
    labels = sym.select(F.col("__s").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(iters):
        msgs = sym.join(
            labels.withColumnRenamed("node", "__d"), "__d"
        ).select(F.col("__s").alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("__c")
        )
        labels = counts.groupBy("node").agg(
            F.min(
                F.struct(
                    (-F.col("__c")).alias("nc"),
                    F.col("label").alias("l"),
                )
            )["l"].alias("label")
        )
    return labels
