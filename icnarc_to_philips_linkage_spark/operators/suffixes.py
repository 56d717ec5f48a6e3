"""Distributed suffix ordering via prefix doubling — exact repeated-
SEQUENCE detection at unbounded (here: 64-token-capped) match length.

The fixed-n passage ops (``dedup_scale.duplicated_passage_report``)
answer "which 8-grams repeat"; the question a training-data audit
actually asks is "what are the LONGEST copied spans, and where" —
Lee et al. 2022's exact-substring dedup, which is a suffix-array
problem. Sorting suffixes naively means shuffling each position's
whole remaining text (corpus × avg-suffix-length bytes — quadratic-ish
at 100 TB). Prefix doubling (Manber–Myers) is the distributed answer:

  - round 0 ranks every position by its token (vocab-sized dim);
  - round k+1 ranks by the PAIR (rank[i], rank[i + 2^k]) — a self
    equi-join on (doc, offset+2^k) plus a rank of the distinct pairs,
    so agreement depth doubles per round while the shuffle payload
    stays two longs per position;
  - after ceil(log2(cap)) rounds, rank order == lexicographic order
    of the cap-token suffix prefixes.

Ranks must be EQUALITY-CONSISTENT (equal key → equal rank) or the
next round breaks, so each round dense-ranks the position frame with
``scale.global_dense_rank`` (range exchange + partition-local
dense_rank + distinct-count offset literals — never a single-partition
window, and no distinct-frame/join-back round trip).

Adjacent-pair LCPs (max repeat = max over ADJACENT suffixes in sorted
order — the classic suffix-array property) are computed by direct
token-slice comparison against the per-doc token arrays: two joins to
the doc-array table and one map-side ``zip_with`` fold, versus
2·(levels+1) n-row joins for the textbook rank-table descend — the
arrays are per-document (broadcast-sized here; one bounded shuffle at
scale), so the descend's only advantage (no array access) buys
nothing. The doubling ranks are what make the SORT cheap; the slices
are what make the LCP cheap.

Determinism: token ranks order by token text, pair ranks by the pair,
suffix order ties break by (doc_id, off) — no hashing, no RNG; the
DuckDB oracle sorts MATERIALIZED capped suffix strings (an
independent algorithm) and must produce the identical adjacency and
LCPs. Design provenance: reference repo has no streaming/corpus ops
(SURVEY §2.9); this is part of the beyond-reference LLM-pipeline
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .scale import global_dense_rank, global_rank
from .text import normalize_expr


def token_arrays(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc normalized token arrays ``(id, toks)``, empty docs
    dropped. Normalization = ``normalize_expr`` (lowercase, strip
    non-alnum, collapse whitespace): tokens are then pure [a-z0-9]+,
    which makes the oracle's space-joined suffix-string order provably
    equal to token-sequence order (separator sorts below every token
    char)."""
    return df.select(
        F.col(id_col),
        F.split(normalize_expr(text_col), " ").alias("toks"),
    ).filter((F.size("toks") > 0) & (F.element_at("toks", 1) != ""))


def suffix_rank(
    arrays: DataFrame,
    id_col: str = "doc_id",
    levels: int = 6,
    base_level: int = 4,
    partitions: int | None = None,
) -> DataFrame:
    """Prefix-doubling rank table: (id, off, r) where ``r`` orders the
    2^levels-token-capped suffix prefixes lexicographically (equal
    prefixes share a rank; ranks are dense-consistent, order-
    preserving).

    The first rank is taken directly on the space-joined
    2^base_level-token slice (a ~40-byte key for base 8 — tokens are
    alnum-only, so the joined-string order equals token-sequence
    order), which replaces the first ``base_level`` doubling rounds
    with one: round count drops from levels+1 rank passes to
    levels-base_level+1. Doubling from a materialized base beats
    per-token bootstrap because each rank pass costs a range sort
    regardless of key width — fewer, slightly wider passes win
    (measured 25 s → 12 s at sf0.1 moving the base from 1 to 16
    tokens; a further 12 → 8 s came from ranking via
    ``global_dense_rank`` directly on the position frame instead of
    distinct + rank + join-back). Pushing the base much further
    starts to pay the naive-sort shuffle-width cost the doubling
    exists to avoid.

    Round-12 shuffle diet (guide §2.3/§2.4), three structural cuts:

    - the base keys are computed MAP-SIDE from the per-doc token
      arrays (one ``transform`` + ``posexplode``), replacing the
      positions⋈arrays join — the exploded position frame never
      existed just to be joined back to its own source row;
    - ``n_pos`` rides the base rank pass's per-partition counts
      (``global_dense_rank(return_rows=True)``) instead of a separate
      ``positions.count()`` full pass;
    - each doubling round fetches the rank at ``off + 2^k`` with
      ``lead(r, h)`` over a per-doc window (offsets are the dense
      1..len integers by construction, so ``lead`` h rows ahead IS
      position off+h; beyond-end → NULL → 0, exactly the old left
      join's coalesce) — ONE hash exchange of the rank frame per
      round where the self-join shuffled it twice and needed a
      persist. Per-doc windows are bounded by document length, the
      same bound the old (id, off) join keys had — no skew regression
      at scale.

    REJECTED refinement (measured round 12): pinning the rank passes
    to an explicit data-derived partition count
    (``max(cores, n_pos/128k)``) to stop AQE's
    byte-targeted coalescing narrowing the checkpointed frames to 3-7
    tasks. Interleaved keep-min A/B at sf0.1: explicit widths 10.4-10.8 s
    vs 9.0-9.7 s leaving AQE alone — the extra 32-way sampling + sort
    tasks across 4 rank passes cost more than the narrow LCP tail
    saves. AQE's ``parallelismFirst`` already restores width once
    partitions exceed the 1 MB min at real scale.
    """
    base = 1 << base_level
    keyed = arrays.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(toks, (t, i) -> "
                f"array_join(slice(toks, i + 1, {base}), ' '))"
            )
        ).alias("__p0", "__k"),
    ).select(F.col(id_col), (F.col("__p0") + 1).alias("off"), "__k")
    # dense rank directly on the position frame: one range exchange,
    # no distinct frame, no corpus-wide join back (global_dense_rank
    # docstring; measured ~2× on the base pass at sf0.1). Distinct-key
    # AND row cardinalities fall out driver-side for the
    # singleton-ranks exit below — zero extra jobs.
    ranked, n_keys, n_pos = global_dense_rank(
        keyed, ["__k"], rank_col="r", partitions=partitions,
        return_rows=True,
    )
    r = ranked.select(F.col(id_col), "off", "r")
    for k in range(base_level, levels):
        h = 1 << k
        # EXACT early exit: every rank class a singleton means no two
        # suffixes agree on the current depth, so deeper rounds refine
        # nothing — and singleton-ness is exactly "as many distinct
        # keys as positions", known driver-side from the rank pass
        # itself (zero extra jobs). Real text exits after a few
        # rounds (most 4-8-token contexts are unique), which keeps the
        # round count data-bounded instead of always log2(cap).
        if n_keys == n_pos:
            break
        wd = Window.partitionBy(id_col).orderBy("off")
        paired = r.select(
            F.col(id_col),
            "off",
            F.col("r").alias("ra"),
            # 0 = suffix ends within h tokens; real ranks start at 1,
            # so a shorter prefix sorts before every extension of it
            F.coalesce(F.lead("r", h).over(wd), F.lit(0)).alias("rb"),
        )
        ranked, n_keys = global_dense_rank(
            paired, ["ra", "rb"], rank_col="r", partitions=partitions,
            return_total=True,
        )
        r = ranked.select(F.col(id_col), "off", "r")
    return r


def longest_repeated_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    levels: int = 6,
    top_k: int = 10,
    partitions: int | None = None,
) -> DataFrame:
    """Top-k longest repeated token sequences in the corpus (within or
    ACROSS documents), LCP capped at 2^levels tokens. Output one row
    per adjacent suffix pair, ranked by LCP:
    (doc_a, off_a, doc_b, off_b, lcp_tokens, excerpt)."""
    cap = 1 << levels
    arrays = token_arrays(df, id_col, text_col).persist()
    ranks = suffix_rank(arrays, id_col, levels, partitions=partitions)
    sa = global_rank(
        ranks, ["r", id_col, "off"], rank_col="__idx", partitions=partitions
    ).select(F.col(id_col), "off", "__idx")
    # REJECTED refinement (measured round 12): repartitioning sa to
    # core width so the LCP tail (3.5 s CPU in 3 tasks at bench
    # scale) runs wide made pass2 6.5 → 7.5 s — the token-array
    # attach joins BROADCAST a ~29 MB relation, and every extra task
    # pays its own broadcast deserialization (32 × ≈ 0.6 s dwarfs the
    # spread CPU). The checkpoint's narrow width is the cheaper trade
    # while the attach stays a broadcast join.
    a = sa.select(
        F.col(id_col).alias("doc_a"),
        F.col("off").alias("off_a"),
        F.col("__idx").alias("__i"),
    )
    b = sa.select(
        F.col(id_col).alias("doc_b"),
        F.col("off").alias("off_b"),
        (F.col("__idx") - 1).alias("__i"),
    )
    adj = a.join(b, "__i").drop("__i")
    slc = lambda doc, off: F.slice(F.col(doc), F.col(off), cap)  # noqa: E731
    with_slices = (
        adj.join(
            arrays.select(
                F.col(id_col).alias("doc_a"), F.col("toks").alias("__ta")
            ),
            "doc_a",
        )
        .join(
            arrays.select(
                F.col(id_col).alias("doc_b"), F.col("toks").alias("__tb")
            ),
            "doc_b",
        )
        .withColumn("__sa", slc("__ta", "off_a"))
        .withColumn("__sb", slc("__tb", "off_b"))
        .drop("__ta", "__tb")
    )
    # common-prefix length of the two capped slices: zip_with pads the
    # shorter side with NULL, the when() maps NULL-vs-x to 0, so the
    # first 0 is the first disagreement OR the end of the shorter
    # slice; no 0 at all means the slices are identical (equal length)
    eqmask = F.zip_with(
        "__sa", "__sb", lambda x, y: F.when(x == y, 1).otherwise(0)
    )
    firstdiff = F.array_position(eqmask, 0)
    lcp = F.when(
        firstdiff == 0, F.least(F.size("__sa"), F.size("__sb"))
    ).otherwise(firstdiff - 1)
    scored = with_slices.withColumn("lcp_tokens", lcp.cast("int"))
    return (
        scored.select(
            "doc_a",
            "off_a",
            "doc_b",
            "off_b",
            "lcp_tokens",
            F.array_join(
                F.slice("__sa", 1, F.greatest(F.col("lcp_tokens"), F.lit(1))),
                " ",
            ).alias("excerpt"),
        )
        .withColumn(
            "excerpt",
            F.when(F.col("lcp_tokens") > 0, F.col("excerpt")).otherwise(
                F.lit("")
            ),
        )
        .orderBy(
            F.desc("lcp_tokens"), "doc_a", "off_a"
        )
        .limit(top_k)
    )
