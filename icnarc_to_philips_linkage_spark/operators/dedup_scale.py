"""Large-scale deduplication operators: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design (the point of these ops):

- **Exact dedup** is a hash-groupBy on a content digest — one shuffle on
  md5(text), which is uniformly distributed, so no skew, and map-side
  partial aggregation collapses local duplicates before the shuffle.
- **MinHash+LSH** avoids the O(n²) pair space: signatures are computed
  per document (map-only after one shuffle to aggregate shingles),
  banding turns near-duplicate detection into an equi-join on
  (band_index, band_hash) — a shuffle join whose key cardinality grows
  with corpus size, so it stays balanced at 100 TB. Only candidate pairs
  (tiny fraction) reach the exact Jaccard verification join.
- **SimHash** is map-only per document; bucket-by-simhash is again an
  equi-join.

Hashing: md5 over strings everywhere, because it is engine-portable
(identical in Spark, DuckDB, Python) — the lexicographic MIN over md5
hex digests is a uniform-permutation min-hash. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from icnarc_to_philips_linkage_spark.functions.expressions import (
    parsed_long_array_lit as _long_array_lit,
)
from icnarc_to_philips_linkage_spark.operators.text import shingles, tokens


def _threshold_ratio(threshold: float) -> tuple[int, int]:
    """Exact rational p/q for a similarity threshold.

    PPJoin's pruning bounds (prefix length, size filter, positional
    overlap bound alpha) all take ceil() at integral boundaries, and a
    double product can round UP across such a boundary: 0.8 is
    0.8000000000000000444… in binary, so
    alpha = ceil(t/(1+t)·(na+nb)) overshoots the true bound by 1
    whenever p·(na+nb) is an exact multiple of p+q (e.g. t=0.8,
    |a|=28, |b|=35, overlap=28 → true J = 0.8 exactly, float alpha=29
    kills the pair) — violating the guaranteed-recall/EXACT contract.
    All bounds are therefore evaluated with integer cross-
    multiplication on p/q = Fraction(str(threshold)) (the scaled-
    integer technique already used in retrieval.mmr_rerank):
    ubound·(p+q) >= p·(na+nb), p·nb <= q·na, and the prefix length
    uses integer div for ceil(p·n/q). Fraction(str(t)) — not
    Fraction(t) — so the rational matches the DECIMAL threshold the
    caller wrote, which is also what the DuckDB oracles compare
    against."""
    from fractions import Fraction

    fr = Fraction(str(threshold))
    return fr.numerator, fr.denominator


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups: content digest → (digest, keeper id, copy
    count). Keeper = min id (deterministic)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def normalized_exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on NORMALIZED content: case / punctuation / spacing
    variants of the same text land in one digest group. Same one-shuffle
    shape as ``exact_dedup_groups`` — the normalization is a map-side
    codegen projection (text.normalize_expr) fused into the scan stage,
    so the 100 TB cost is identical to the raw-digest dedup."""
    from icnarc_to_philips_linkage_spark.operators.text import normalize_expr

    return (
        df.select(
            F.md5(normalize_expr(F.col(text_col))).alias("norm_hash"),
            F.col(id_col),
        )
        .groupBy("norm_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def duplicated_passage_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-passage fraction — the exact-substring
    duplication signal of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better") at word-n-gram granularity: a passage
    is an n-gram span occurring in ≥ ``min_docs`` DISTINCT documents;
    each document reports how much of it is such shared boilerplate.

    Returns (id, n_grams, n_dup_grams, dup_fraction) — one row per
    document, dup_fraction rounded to 6dp.

    Scale shape: the gram table is the only large intermediate (same
    cardinality as the decontam / LSH shingle tables). Two keyed
    shuffles: grams groupBy(gram) for the cross-doc count, then the
    dup-gram semi join back + groupBy(id). The per-doc total gram count
    never shuffles grams — it is a map-side ``size(shingles)``
    projection joined on the bounded (one row per doc) key.
    """
    grams = doc_shingles(df, id_col=id_col, text_col=text_col, n=n)
    cross = grams.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    dup_grams = cross.filter(F.col("n_docs") >= min_docs).select("shingle")
    per_doc_dup = (
        grams.join(dup_grams, "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    totals = df.select(
        F.col(id_col), tokens(text_col).alias("_toks")
    ).select(F.col(id_col), F.size(shingles("_toks", n)).alias("n_grams"))
    return (
        totals.join(per_doc_dup, id_col, "left")
        .select(
            F.col(id_col),
            "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.round(
                F.coalesce("n_dup_grams", F.lit(0))
                / F.greatest(F.col("n_grams"), F.lit(1)),
                6,
            ).alias("dup_fraction"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Exact-substring span REMOVAL — the action half of
    ``duplicated_passage_report``'s detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better":
    duplicated spans are cut from documents, keeping one occurrence in
    the corpus), at word-n-gram granularity.

    Semantics: tokenize each document (whitespace tokens of the
    lowercased text); every POSITIONAL n-gram occurrence (not the
    distinct shingle set — position matters here) whose gram string
    occurs ≥ 2 times in the corpus is a duplicate UNLESS it is the
    gram's keeper occurrence, the corpus-minimal (id, pos). A token
    survives iff no duplicate occurrence's n-token span covers it;
    survivors reassemble in order (space-joined). A span copied
    verbatim across documents therefore remains in exactly one place —
    the minimal-id document's first occurrence — and is excised
    everywhere else, including later repeats inside the SAME document.
    Documents shorter than n tokens have no n-grams and pass through
    untouched (spans below the threshold are not deduplicated).

    Output: one row per input document,
    ``(id, n_tokens, n_removed, text_dedup)`` — token counts before
    removal, tokens cut, and the reassembled (lowercased) text, ''
    when everything was duplicated boilerplate.

    Scale shape: the positional gram table is the only corpus-sized
    intermediate (~1 row per token, same cardinality class as the LSH
    shingle tables). Keyed shuffles: groupBy(gram) for count+keeper
    (map-side partial agg; md5-uniform key space — no skew); the gram
    join back to flag non-keeper occurrences; coverage positions
    (duplicate occurrences × n, bounded map-side explode) distinct +
    groupBy(id) into a per-doc removed-position array; ONE doc-grain
    equi-join of that array back to the token arrays, where the cut is
    a map-side higher-order filter — the corpus token stream itself
    never rides a collect_list shuffle.
    """
    toks = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"""
                CASE WHEN size(__toks) < {n} THEN array()
                     ELSE transform(
                       sequence(1, size(__toks) - {n - 1}),
                       i -> struct(i AS pos,
                                   concat_ws(' ', slice(__toks, i, {n}))
                                     AS gram))
                END
                """
            )
        ).alias("__g"),
    ).select(F.col(id_col), F.col("__g.pos").alias("pos"), F.col("__g.gram").alias("gram"))
    keepers = (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__k"),
        )
        .filter(F.col("__c") >= 2)
        .select(
            "gram",
            F.col(f"__k.{id_col}").alias("__kd"),
            F.col("__k.pos").alias("__kp"),
        )
    )
    dup_occ = (
        grams.join(keepers, "gram")
        .filter(
            ~((F.col(id_col) == F.col("__kd")) & (F.col("pos") == F.col("__kp")))
        )
        .select(F.col(id_col), "pos")
    )
    removed = (
        dup_occ.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias(
                "__cp"
            ),
        )
        .groupBy(id_col)
        .agg(F.collect_set("__cp").alias("__rm"))
    )
    out = toks.join(removed, id_col, "left").select(
        F.col(id_col),
        F.size("__toks").alias("n_tokens"),
        F.when(F.col("__rm").isNull(), F.lit(0))
        .otherwise(F.size("__rm"))
        .alias("n_removed"),
        F.when(F.col("__rm").isNull(), F.concat_ws(" ", F.col("__toks")))
        .otherwise(
            F.concat_ws(
                " ",
                F.filter(
                    F.col("__toks"),
                    lambda t, i: ~F.array_contains(F.col("__rm"), i + 1),
                ),
            )
        )
        .alias("text_dedup"),
    )
    return out


def explode_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundary_re: str = r"\n{2,}",
) -> DataFrame:
    """(id, para_idx, para): documents split on a paragraph-boundary
    regex (default: blank lines), 1-based indices preserve document
    order, whitespace-only paragraphs dropped (their indices stay, so
    reassembly order is unaffected). Map-only."""
    return (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), boundary_re)).alias(
                "__i0", "para"
            ),
        )
        .filter(F.trim(F.col("para")) != "")
        .select(F.col(id_col), (F.col("__i0") + 1).alias("para_idx"), "para")
    )


def token_window_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
) -> DataFrame:
    """(id, para_idx, para): pseudo-paragraphs as TUMBLING token
    windows — window k spans tokens (k−1)·w+1 … k·w of the lowercased
    whitespace token stream, the last window ragged. The C4-style
    paragraph unit for corpora whose text carries no layout boundaries.
    Map-only (one higher-order transform per document)."""
    w = int(window)
    return df.select(
        F.col(id_col), tokens(text_col).alias("__toks")
    ).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"""
                transform(
                  sequence(1, cast((size(__toks) + {w - 1}) / {w}
                                   as int)),
                  k -> struct(k AS para_idx,
                              concat_ws(' ',
                                slice(__toks, (k-1)*{w}+1, {w}))
                                AS para))
                """
            )
        ).alias("__p"),
    ).select(
        F.col(id_col),
        F.col("__p.para_idx").alias("para_idx"),
        F.col("__p.para").alias("para"),
    )


def paragraph_dedup_exploded(
    paras: DataFrame,
    id_col: str = "doc_id",
    idx_col: str = "para_idx",
    para_col: str = "para",
    normalize: bool = True,
    sep: str = " ",
) -> DataFrame:
    """Paragraph-granularity exact dedup with keeper attribution and
    span reassembly — the C4 recipe (Raffel et al. 2020 dedup any
    three-sentence span occurring more than once; here the unit is
    whatever paragraph grain the caller exploded) generalized over
    ``explode_paragraphs`` / ``token_window_paragraphs`` output.

    A paragraph occurrence survives iff it is its (normalized) digest's
    corpus-minimal (id, idx) — every cross-document AND within-document
    repeat of the same paragraph is cut, boilerplate survives exactly
    once. Survivors reassemble in document order joined by ``sep``.

    Output: one row per input document,
    ``(id, n_paras, n_removed, text_dedup)`` — '' when every paragraph
    was someone else's boilerplate.

    Scale shape: digests are a map-side projection
    (``normalized_exact_dedup``'s key, md5-uniform so the groupBy(digest)
    keeper shuffle has no skew and partially aggregates map-side); the
    occurrence flagging is one equi-join back on the digest; reassembly
    is a doc-grain sort_array(collect_list) — bounded by a single
    document's paragraph count, never a corpus-wide sort.
    """
    from icnarc_to_philips_linkage_spark.operators.text import normalize_expr

    content = (
        normalize_expr(F.col(para_col)) if normalize else F.col(para_col)
    )
    keyed = paras.select(
        F.col(id_col),
        F.col(idx_col),
        F.col(para_col),
        F.md5(content).alias("__d"),
    )
    keepers = keyed.groupBy("__d").agg(
        F.min(F.struct(F.col(id_col), F.col(idx_col))).alias("__k")
    )
    flagged = keyed.join(keepers, "__d").select(
        F.col(id_col),
        F.col(idx_col),
        F.col(para_col),
        (
            (F.col(id_col) == F.col(f"__k.{id_col}"))
            & (F.col(idx_col) == F.col(f"__k.{idx_col}"))
        ).alias("__keep"),
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.count(F.when(~F.col("__keep"), F.lit(1))).alias("n_removed"),
        F.concat_ws(
            sep,
            F.expr(
                f"transform(array_sort(collect_list(CASE WHEN __keep "
                f"THEN struct({idx_col} AS i, {para_col} AS p) END)), "
                f"x -> x.p)"
            ),
        ).alias("text_dedup"),
    )
    return per_doc


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundary_re: str = r"\n{2,}",
    normalize: bool = True,
    sep: str = "\n\n",
) -> DataFrame:
    """``explode_paragraphs`` ∘ ``paragraph_dedup_exploded`` — regex
    paragraph boundaries in, deduplicated reassembled documents out.
    Documents whose every paragraph was removed (or that had no
    non-blank paragraphs) are restored with '' via a doc-grain left
    join so the output is total over the input."""
    deduped = paragraph_dedup_exploded(
        explode_paragraphs(df, id_col, text_col, boundary_re),
        id_col=id_col,
        normalize=normalize,
        sep=sep,
    )
    return df.select(F.col(id_col)).join(deduped, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
    )


def _bloom_position_sql(value_col: str, num_bits: int, i: int) -> str:
    """SQL fragment for the i-th Bloom bit position of ``value_col`` —
    shared verbatim between build and probe so the two sides hash
    identically. xxhash64 with a distinct long seed column per i gives k
    independent hash functions; pmod folds into [0, num_bits)."""
    return f"pmod(xxhash64({i}L, {value_col}), {num_bits}L)"


def bloom_bitmap(
    df: DataFrame, value_col: str, num_bits: int = 1 << 20, k: int = 5
) -> list:
    """Bloom-filter bitmap over ``df[value_col]`` as a Python list of
    ``num_bits/64`` int64 words, built by ONE distributed aggregation:
    explode the k bit positions per row (map-only), bit_or the
    per-position masks grouped by 64-bit word (a shuffle of at most
    ``num_bits/64`` distinct keys, partially aggregated map-side), then
    collect the sparse (word, bits) rows — bounded by the parameter, not
    the data: 128 KiB at the default 2^20 bits — and densify driver-side.

    The list folds into downstream plans as a LITERAL array (the
    k-means-centroids pattern): probing is then an O(1) array index per
    hash, no broadcast join, no per-row map lookup. EAGER: calling this
    runs a Spark job.

    Size ``num_bits`` at ~10 bits per expected distinct item for a ~1%
    false-positive rate; false positives only cost extra work downstream
    (the exact join confirms), never wrong answers."""
    if num_bits % 64 or num_bits < 64:
        raise ValueError(f"num_bits must be a positive multiple of 64, got {num_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pos = [
        F.expr(_bloom_position_sql(value_col, num_bits, i)) for i in range(k)
    ]
    words = (
        df.select(F.explode(F.array(*pos)).alias("__p"))
        .select(
            F.shiftright("__p", 6).alias("__w"),
            F.expr("shiftleft(1L, cast(__p % 64 as int))").alias("__m"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__m").alias("__bits"))
        .collect()
    )
    bitmap = [0] * (num_bits // 64)
    for r in words:
        bitmap[r["__w"]] = r["__bits"]
    return bitmap


def bloom_bitmap_auto(
    df: DataFrame,
    value_col: str,
    k: int = 5,
    max_bits: int = 1 << 22,
    min_bits: int = 1 << 13,
    bits_per_item: int = 16,
) -> tuple[list, int]:
    """Self-sizing Bloom build in ONE job over ONE scan: the bitmap is
    built at ``max_bits`` resolution while the SAME aggregation carries
    the row count (each row explodes to exactly k position rows, so
    n = sum of per-word counts / k), then the driver folds the sparse
    words down to the n-derived power-of-two width. Folding is exact for
    power-of-two sizes: ``p mod 2^j == (p mod 2^22) mod 2^j``, and at
    the word level (j >= 6) the in-word bit offset is unchanged while
    the word index wraps mod the smaller word count — so the folded
    bitmap sets every bit the directly-built one would (no false
    negatives; false positives stay at the designed rate because the
    width is rounded UP to the next power of two >= bits_per_item * n).
    Returns (bitmap_words, num_bits). Collect is bounded by
    min(n*k, max_bits/64) sparse rows — 512 KiB worst case."""
    if max_bits & (max_bits - 1) or min_bits & (min_bits - 1):
        raise ValueError("max_bits and min_bits must be powers of two")
    if min_bits < 64 or min_bits > max_bits:
        raise ValueError(f"need 64 <= min_bits <= max_bits, got {min_bits}")
    pos = [
        F.expr(_bloom_position_sql(value_col, max_bits, i)) for i in range(k)
    ]
    rows = (
        df.select(F.explode(F.array(*pos)).alias("__p"))
        .select(
            F.shiftright("__p", 6).alias("__w"),
            F.expr("shiftleft(1L, cast(__p % 64 as int))").alias("__m"),
        )
        .groupBy("__w")
        .agg(
            F.bit_or("__m").alias("__bits"),
            F.count(F.lit(1)).alias("__n"),
        )
        .collect()
    )
    n = sum(r["__n"] for r in rows) // k
    target = max(min_bits, min(max_bits, bits_per_item * max(n, 1)))
    num_bits = 1 << (target - 1).bit_length()  # next power of two
    nwords = num_bits // 64
    bitmap = [0] * nwords
    for r in rows:
        bitmap[r["__w"] % nwords] |= r["__bits"]
    return bitmap, num_bits


# int64 single-bit masks; bit 63 is the sign bit, matching SQL
# shiftleft(1L, 63) on the build side
_POW2 = [1 << j for j in range(63)] + [-(1 << 63)]


def bloom_might_contain(
    value_col: str, bitmap: list, num_bits: int, k: int = 5
):
    """Predicate Column: all k Bloom bits for ``value_col`` are set in
    the literal ``bitmap`` (a ``bloom_bitmap`` result). No false
    negatives (a value that was added always tests true); false
    positives at the filter's designed rate. Pure map-side expression
    against typed array literals — O(1) array indexes per hash, no
    variable shifts (bit test is ``word & mask != 0`` with the mask
    looked up from a 64-entry powers-of-two literal)."""
    bm = _long_array_lit(bitmap)
    masks = _long_array_lit(_POW2)
    cond = None
    for i in range(k):
        p = F.expr(_bloom_position_sql(value_col, num_bits, i))
        word = F.element_at(bm, F.shiftright(p, 6).cast("int") + F.lit(1))
        mask = F.element_at(
            masks, F.pmod(p, F.lit(64)).cast("int") + F.lit(1)
        )
        c = word.bitwiseAND(mask) != F.lit(0)
        cond = c if cond is None else cond & c
    return cond


def incremental_ingest(
    incoming: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bloom_bits: int | str | None = None,
    bloom_k: int = 5,
    min_corpus_bytes: int = 64 << 20,
) -> DataFrame:
    """Incremental corpus ingest: drop incoming documents whose content
    digest already exists in the corpus (anti join), then exact-dedup
    WITHIN the batch (min-id keeper) — the don't-retrain-on-what-you-
    have step of a continuously-fed training pipeline.

    Scale shape: the anti join shuffles both sides on the digest; the
    within-batch groupBy reuses that partitioning (the join output is
    already digest-partitioned, so no third exchange appears). At 100 TB
    the existing-corpus side is the hot path even as a digest-only
    projection — ``bloom_bits`` enables the standard mitigation: a Bloom
    filter built over the INCOMING batch's digests (the small side),
    broadcast, prunes existing-corpus rows that cannot match anything in
    the batch BEFORE they reach the anti join's exchange. Build-over-
    small / probe-over-large is the same side selection Spark's runtime
    filter injection makes — the opposite direction (bloom of a 100 TB
    corpus) would not be broadcast-sized. Correctness is unconditional:
    Bloom false positives just ride through to the exact anti join;
    false negatives cannot occur, and a pruned existing row by
    definition matches no incoming digest.

    Size ``bloom_bits`` at ~16 bits per expected incoming-batch row, or
    pass ``"auto"`` to have it sized from the batch's row count
    (clamped to [2^13, 2^22] — the plan-literal bitmap should stay
    plan-sized; far larger batches deserve a persisted filter).
    ``None`` disables the prefilter — right when the two sides are
    comparably sized. NOTE: a non-None ``bloom_bits`` builds the bitmap
    EAGERLY at plan-construction time — ONE job over ONE scan of the
    incoming batch (``"auto"`` derives the sizing count from the same
    aggregation via ``bloom_bitmap_auto``) — the same documented
    trade-off as ``interval_join(bucket='auto')``.

    ``"auto"`` is additionally SIZE-ADAPTIVE: the eager build only pays
    for itself when the corpus side it prunes is large, so it is
    skipped when Catalyst's size estimate for the existing side is
    below ``min_corpus_bytes`` (default 64 MiB) — the same
    statistics-driven criterion broadcast selection uses. Measured at
    sf0.1 (corpus ~2,500 rows): prefilter ON 1.02s vs exact-only 0.30s
    — the ~0.7s is pure fixed eager-job cost with nothing to prune.
    Set ``min_corpus_bytes=0`` to force the prefilter regardless."""
    inc = incoming.select(
        F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col)
    )
    ex = existing.select(F.md5(F.col(text_col)).alias("content_hash"))
    if bloom_bits == "auto" and min_corpus_bytes > 0:
        est = int(
            existing._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if est < min_corpus_bytes:
            bloom_bits = None
    if bloom_bits is not None:
        if bloom_bits == "auto":
            # r4 ran a sizing count THEN the bitmap aggregation (two
            # eager jobs, two scans+digests of the incoming batch).
            # bloom_bitmap_auto folds both into one job over one scan:
            # the bitmap aggregation itself carries the row count, and
            # the driver folds the max-resolution words down to the
            # n-derived power-of-two width.
            bm, bloom_bits = bloom_bitmap_auto(
                inc.select("content_hash"), "content_hash", k=bloom_k
            )
        else:
            bm = bloom_bitmap(
                inc.select("content_hash"), "content_hash", bloom_bits, bloom_k
            )
        ex = ex.filter(
            bloom_might_contain("content_hash", bm, bloom_bits, bloom_k)
        )
    return (
        inc.join(ex, "content_hash", "left_anti")
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_batch_copies"),
        )
    )


def doc_shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingle) exploded distinct word-n-gram shingle sets."""
    return (
        df.select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(F.col(id_col), F.explode(shingles("_toks", n)).alias("shingle"))
    )


def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, sh_arr) distinct word-n-gram shingle SET per document as one
    array row — the un-exploded twin of ``doc_shingles``. Map-only."""
    return df.select(F.col(id_col), tokens(text_col).alias("_toks")).select(
        F.col(id_col), shingles("_toks", n).alias("sh_arr")
    )


def minhash_signatures_arr(
    sets_df: DataFrame, id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """k-permutation MinHash signature per document from shingle-set
    arrays: h_i = array_min(md5(i || ':' || shingle)) — a pure
    higher-order-function projection. Same values as
    ``minhash_signatures`` (lexicographic min over the same digests)
    with NO shuffle at all: each document's k mins fold in one map pass,
    instead of exploding |shingles| rows and hash-aggregating them back
    together."""
    # The salt index must bind via a factory closure with a
    # SINGLE-parameter lambda: a two-parameter lambda (even with a
    # default arg, `lambda s, i=i:`) is treated by Spark as the
    # (element, index) HOF form, so the positional index Column would
    # shadow the default and stringify into a nondeterministic salt.
    def _h(i: int):
        salt = F.lit(f"{i}:")
        return F.array_min(
            F.transform("sh_arr", lambda s: F.md5(F.concat(salt, s)))
        ).alias(f"h{i}")

    return sets_df.select(F.col(id_col), *[_h(i) for i in range(k)])


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """k-permutation MinHash signature per document from an exploded
    shingle table: h_i = MIN(md5(i || ':' || shingle)). One hash
    aggregation computes all k mins (single shuffle on the doc id)."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(
    sig: DataFrame, id_col: str = "doc_id", k: int = 8, bands: int = 4
) -> DataFrame:
    """Split the k-wide signature into ``bands`` bands of k/bands rows;
    band hash = md5(concat of the band's mins). Output long-form
    (id, band_idx, band_hash) via a stack unpivot (no shuffle)."""
    r = k // bands
    pairs = []
    for b in range(bands):
        cols = [f"h{b * r + j}" for j in range(r)]
        pairs.append(f"{b}, md5(concat({', '.join(cols)}))")
    stack = f"stack({bands}, {', '.join(pairs)}) as (band_idx, band_hash)"
    return sig.select(F.col(id_col), F.expr(stack))


def lsh_candidate_pairs(
    bands_df: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing any band bucket — an
    equi-join on (band_idx, band_hash), the step that replaces the O(n²)
    scan. Dedup via DISTINCT keeps one row per pair regardless of how
    many bands collide.

    ``max_bucket_size`` is the skew guard: a boilerplate-heavy corpus
    (license headers, templated pages) sends thousands of documents to
    ONE (band, hash) bucket, and the self-join squares it — 10k docs in
    a bucket is 10^8 candidate rows through a single join key, the
    classic LSH mega-bucket blowup AQE's skew-split can spread across
    tasks but not shrink. Buckets larger than the cap are DROPPED before
    the join (a window count over the same shuffle key the join needs —
    no extra exchange). Recall cost is explicitly bounded: a dropped
    bucket's documents are near-identical boilerplate whose EXACT
    duplicates the digest-groupBy dedup already collapses, and genuinely
    similar pairs still meet in their other, smaller band buckets.
    ``None`` keeps every bucket."""
    if max_bucket_size is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_idx", "band_hash")
        bands_df = (
            bands_df.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a = bands_df.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_hash"
    )
    b = bands_df.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_hash"
    )
    return (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, sh: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: |A∩B| via a shingle
    equi-join restricted to the candidate set, |A|/|B| from per-doc
    shingle counts. Join order: the candidate pair set is the small side
    and drives the probe."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), F.col("shingle"))
    sh_b = sh.select(F.col(id_col).alias("id_b"), F.col("shingle"))
    common = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    threshold: float = 0.4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full pipeline: shingle sets → MinHash → LSH bands → candidate
    pairs → exact-Jaccard verify → near-duplicate pairs above threshold.

    Physical shape (array-set formulation): signatures and bands are
    pure map-side projections over the per-doc shingle-set array — the
    ONLY corpus-wide shuffle is the band-bucket equi-join that produces
    candidate pairs. Verification joins the (tiny) candidate set back to
    the shingle arrays and computes |A∩B| with array_intersect per pair
    — no exploded (id, shingle) shuffle, no intersection join. The
    shingle-set table feeds three consumers (signatures, both verify
    sides); persisting it trades one materialization for two
    recomputations of tokenize+shingle (MEMORY_AND_DISK spills instead
    of OOMing on a 100 TB corpus)."""
    from pyspark import StorageLevel

    sets = shingle_sets(df, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sig = minhash_signatures_arr(sets, id_col, k)
    cand = lsh_candidate_pairs(
        lsh_bands(sig, id_col, k, bands), id_col, max_bucket_size
    )
    sh_a = sets.select(F.col(id_col).alias("id_a"), F.col("sh_arr").alias("__sh_a"))
    sh_b = sets.select(F.col(id_col).alias("id_b"), F.col("sh_arr").alias("__sh_b"))
    common = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - common
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(common / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def band_key_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """(id, band_key) rows for a document frame — the probe-join unit
    shared by the persisted LSH index (``write_lsh_index`` /
    ``probe_lsh_index``) and the streaming near-dup ingest. band_key
    folds the band index into the hash so a single-column equi-join
    covers the (band_idx, band_hash) pair equality; cross-band md5
    collisions only add candidates for the exact verifier to discard.
    Map-only after the per-doc shingle aggregation."""
    return lsh_bands(
        minhash_signatures_arr(
            shingle_sets(docs, id_col, text_col, n), id_col, k
        ),
        id_col,
        k,
        bands,
    ).select(
        F.col(id_col),
        F.md5(F.concat_ws(":", "band_idx", "band_hash")).alias("band_key"),
    )


def write_lsh_index(
    docs: DataFrame,
    table_name: str,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    buckets: int = 64,
) -> None:
    """Persist the corpus's LSH band table BUCKETED by band key — the
    build-once/probe-many index for incremental near-dup checks.

    At 100 TB the corpus band table is the big side of every probe
    join; bucketing it at write time (`bucketBy` + `sortBy`) stores it
    pre-hash-partitioned on the join key, so each probe batch joins
    WITHOUT re-shuffling the corpus — only the (small) incoming batch
    exchanges. This is the batch analog of a database index: pay the
    layout cost once at ingest, spend zero corpus shuffles per probe.

    ``band_key`` folds the band index into the hash so the single-key
    bucketing covers the (band_idx, band_hash) pair-equality the
    in-memory path joins on; cross-band md5 collisions would only add
    candidates for the exact-Jaccard verifier to discard."""
    bands_df = band_key_rows(docs, id_col, text_col, n, k, bands)
    (
        bands_df.write.mode("overwrite")
        .bucketBy(buckets, "band_key")
        .sortBy("band_key")
        .option("path", path)
        .format("parquet")
        .saveAsTable(table_name)
    )


def probe_lsh_index(
    spark,
    table_name: str,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs (incoming_id, corpus_id) against a
    persisted ``write_lsh_index`` table: the incoming batch's bands are
    computed map-side with the SAME (n, k, bands) parameters and joined
    on the bucketed band key — the corpus side streams from its buckets
    with no exchange. Feed survivors to exact Jaccard (``jaccard_verify``
    / the array-intersect path) exactly like the in-memory pipeline."""
    qb = lsh_bands(
        minhash_signatures_arr(
            shingle_sets(incoming, id_col, text_col, n), id_col, k
        ),
        id_col,
        k,
        bands,
    ).select(
        F.col(id_col).alias("incoming_id"),
        F.md5(F.concat_ws(":", "band_idx", "band_hash")).alias("band_key"),
    )
    idx = spark.table(table_name).select(
        F.col(id_col).alias("corpus_id"), "band_key"
    )
    return (
        idx.join(qb, "band_key")
        .filter(F.col("incoming_id") != F.col("corpus_id"))
        .select("incoming_id", "corpus_id")
        .distinct()
    )


def _union_find_components(edge_rows: list) -> dict:
    """Driver-side union-find with min-id roots and path compression.
    Result (node → smallest reachable id) is independent of edge order."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # smaller id stays root → component = min id
    nodes = {n for e in edge_rows for n in e}
    return {n: find(n) for n in nodes}


def ngram_jaccard_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs with single-permutation
    MinHash blocking: documents sharing their minimum shingle digest
    (the h0 permutation of ``minhash_signatures_arr``) land in one
    block; within-block pairs get exact set Jaccard on the shingle
    arrays. Collision probability for a pair equals its true Jaccard,
    so high-similarity pairs block together with high probability while
    pair generation stays an equi-join (never O(n²)). The full-recall
    variant is ``minhash_lsh_dedup`` (k permutations, banded)."""
    from pyspark import StorageLevel

    sets = shingle_sets(df, id_col, text_col, n)
    # persisted: both sides of the self-join read this table — without
    # it the tokenize+shingle+digest work runs twice
    blocked = sets.select(
        F.col(id_col),
        "sh_arr",
        F.array_min(
            F.transform("sh_arr", lambda s: F.md5(F.concat(F.lit("0:"), s)))
        ).alias("__block"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = blocked.select(
        F.col("__block"),
        F.col(id_col).alias("id_a"),
        F.col("sh_arr").alias("__sh_a"),
    )
    b = blocked.select(
        F.col("__block"),
        F.col(id_col).alias("id_b"),
        F.col("sh_arr").alias("__sh_b"),
    )
    common = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size("__sh_a") + F.size("__sh_b") - common
    return (
        a.join(b, on="__block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(common / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over an undirected pair graph.

    Adaptive physical strategy (same principle as broadcast-join
    selection): after LSH banding + Jaccard verification the pair graph
    is orders of magnitude smaller than the corpus, so when the distinct
    edge count is at most ``driver_threshold`` (2M edges ≈ 32 MB of
    longs — broadcast-sized) the edges are collected and resolved with
    driver-side union-find in one pass. An iterative distributed loop on
    a graph that small is pure latency: every iteration pays join +
    shuffle + checkpoint job overhead to move a few thousand rows.

    Above the threshold: min-label propagation — every node's label
    converges to the smallest id in its component. Iterations needed =
    component diameter (near-dup clusters are shallow); each iteration
    is one join + one aggregate.

    Both paths are deterministic (no RNG; min and union-find with min-id
    roots are edge-order-free) and return (node, component) where
    component = min node id reachable."""
    undirected = (
        pairs.select(
            F.least(id_a, id_b).alias("src"),
            F.greatest(id_a, id_b).alias("dst"),
        )
        .distinct()
        .cache()
    )
    n_edges = undirected.count()
    if n_edges <= driver_threshold:
        # Schema follows the id column's actual type (string doc ids
        # work the same as longs); collect as plain 2-tuples, not Row
        # objects, to keep driver memory near the raw edge payload.
        id_type = undirected.schema["src"].dataType
        comp = _union_find_components(
            [tuple(r) for r in undirected.collect()]
        )
        undirected.unpersist()
        out_schema = T.StructType(
            [
                T.StructField("node", id_type, False),
                T.StructField("component", id_type, False),
            ]
        )
        return pairs.sparkSession.createDataFrame(
            sorted(comp.items()), out_schema
        )
    edges = (
        undirected.unionByName(
            undirected.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    labels = labels.localCheckpoint(eager=True)
    prev_sum = labels.agg(F.sum("component")).first()[0]
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("node", "src"), on="src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # localCheckpoint BEFORE consuming: truncates the per-iteration
        # lineage (else iteration N replans/re-executes iterations 1..N-1
        # — quadratic) and materializes once for both the convergence
        # count and the next join.
        new_labels = (
            labels.join(neighbor_min, on="node", how="left")
            .select(
                "node",
                F.least(
                    "component", F.coalesce("nbr_min", "component")
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        # Min-propagation only ever lowers labels, so the label-sum is
        # strictly decreasing until convergence — an unchanged sum IS
        # convergence. One scan of the checkpointed labels; no join.
        new_sum = new_labels.agg(F.sum("component")).first()[0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def near_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **minhash_kwargs,
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash-LSH pairs → connected
    components → (doc_id, cluster_id, keep) where keep marks the
    cluster's smallest id (the deterministic survivor)."""
    pairs = minhash_lsh_dedup(df, id_col, text_col, **minhash_kwargs)
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias(id_col),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).alias("keep"),
    )


def simhash16(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """16-bit SimHash per document from distinct tokens: bit i of the
    token's md5 votes ±1; the sign of each bit-sum forms the hash.

    Map-only: each document's token digests are one array (md5 computed
    ONCE per token), and the 16 bit-sums are higher-order ``aggregate``
    folds over it — no explode, no groupBy shuffle; a document never
    leaves its input partition. Integer math only (engine-portable: the
    oracle reproduces it bit-for-bit). Width 16 keeps the expression
    tree small; the construction generalizes to 64 by widening the
    loop."""
    with_ths = df.select(
        F.col(id_col),
        F.transform(
            F.array_distinct(tokens(text_col)), lambda t: F.md5(t)
        ).alias("__ths"),
    )
    def bit_sum(hex_idx: int, bit_in_char: int):
        # factory closure: pyspark introspects lambda arity, so the bit
        # position must bind via closure, not default args
        def merge(acc, th):
            hexval = F.conv(F.substring(th, hex_idx, 1), 16, 10).cast("int")
            bit = F.shiftright(hexval, bit_in_char).bitwiseAND(F.lit(1))
            return acc + F.when(bit == 1, 1).otherwise(-1)

        return F.aggregate("__ths", F.lit(0), merge)

    sum_cols = []
    for i in range(16):
        # hex_idx: 1-based substring position into the digest; bit: high first
        sum_cols.append(bit_sum(i // 4 + 1, 3 - (i % 4)).alias(f"s{i}"))
    sums = with_ths.select(F.col(id_col), *sum_cols)
    hash_expr = None
    for i in range(16):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << (15 - i))).otherwise(0)
        hash_expr = term if hash_expr is None else hash_expr + term
    return sums.select(F.col(id_col), hash_expr.cast("int").alias("simhash"))


def jaccard_prefix_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    set_col: str | None = None,
    order_mode: str = "frequency",
) -> DataFrame:
    """EXACT token-set similarity self-join with PPJoin-style prefix
    filtering — the guaranteed-recall complement to the probabilistic
    blockers (``minhash_lsh_dedup`` trades recall for speed via banding;
    ``ngram_jaccard_dedup``'s 1-perm block collides only w.p. = true
    Jaccard). Every pair with Jaccard >= threshold over DISTINCT word
    tokens is emitted, yet pair generation is an equi-join, never
    O(n²):

    - Global canonical token order = (corpus frequency ASC, token ASC)
      — rare tokens first. The (count, token) TUPLE itself is the sort
      key: no vocabulary-wide row_number (a single-partition window at
      100 TB); the token-count dim joins in by token.
    - Prefix filter: a doc with n tokens exposes only its first
      p = n − ceil(t·n) + 1 rarest tokens. Two sets with J >= t must
      share a prefix token under ANY common total order (if the
      prefixes were disjoint, the intersection is too small to reach
      t) — so the candidate join on exploded prefix tokens is
      COMPLETE, and the rare-first order makes it SELECTIVE: hot
      stopwords sit outside every prefix, so no stopword mega-bucket.
    - Length filter in the join condition (t·|a| <= |b| <= |a|/t)
      prunes mismatched sizes before the pair materializes; exact
      Jaccard on the full distinct-token arrays verifies the deduped
      candidates.

    Output: (id_a < id_b, jaccard >= threshold, 6dp). One corpus
    tokenize pass (persisted), one token-count aggregate, one
    prefix-token equi-join.

    ``set_col`` switches the element universe: pass a precomputed
    array<string> set column (e.g. ``shingle_sets``' n-gram shingles —
    positional, so far more discriminative than bag-of-words on
    template-heavy corpora) instead of tokenizing ``text_col``.

    ``order_mode`` picks the common total order (completeness holds
    under ANY shared order; the choice only affects selectivity/cost):

    - "frequency": corpus rarity rank (count ASC, element ASC) — the
      classic PPJoin order. Maximally selective prefixes, costs one
      count aggregate + one dim join + a per-doc sorted collect.
    - "hashed": md5-digest order — a fixed random permutation of the
      universe. ENTIRELY map-side (sort the digest array, slice);
      elements become digests (Jaccard unchanged modulo md5
      collisions). MEASURED VERDICT: on the template-heavy testdata
      corpus this is 5× SLOWER than "frequency" (58.6s vs 12.1s at
      sf0.1, same output) — a random order leaves corpus-common
      shingles inside prefixes and their candidate buckets explode.
      Rarity statistics are the whole ballgame on skewed element
      frequencies; "hashed" only wins on near-uniform universes
      (e.g. already-hashed ids) where the stats pass is pure
      overhead.

    REJECTED refinement (measured, kept symmetric on purpose): PPJoin's
    index-prefix asymmetry — orient pairs by size and explode only
    n − ceil(2t/(1+t)·n) + 1 tokens on the smaller side (sound: for
    |S| <= |L|, overlap O >= ceil(2t/(1+t)·|S|), so the smallest common
    token sits inside that shorter prefix). On this corpus it removed
    ZERO of the 325k candidate pairs (rare tokens already sit at the
    very front of frequency-ordered prefixes, well inside both prefix
    cuts) while costing 2× wall time (4.9s → 9.8s at sf0.1): the
    size-orientation OR-predicate replaced the id inequality, and —
    the dominant effect — the reshaped plan let AQE size-based
    coalescing collapse the ids-only candidate exchange to 2
    partitions, serializing the compute-dense array_intersect verify
    (8.5s of executor time on 2 tasks). Narrow rows + heavy per-row
    verify is exactly where byte-targeted coalescing under-parallelizes;
    the symmetric shape keeps the verify input at full width. Revisit
    only with a corpus where candidates bind later in the prefix AND an
    explicit repartition pinned ahead of the verify join."""
    from pyspark import StorageLevel

    # NO emptiness guard on __tk: empty/NULL sets are inert here
    # (explode emits nothing for them, every downstream path is an
    # inner join on exploded candidates), while a `size(__tk) > 0`
    # filter is pushed by Catalyst below the caller's spread Exchange
    # with the WHOLE derived-set expression inlined — the full
    # shingle pipeline re-ran single-task on the narrow scan side
    # (measured: 6.3 s of 1-core CPU per pass at sf0.1).
    if set_col is not None:
        toks = df.select(
            F.col(id_col), F.array_distinct(F.col(set_col)).alias("__tk")
        )
    else:
        toks = df.select(
            F.col(id_col),
            F.array_distinct(
                F.filter(
                    F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("__tk"),
        )
    if order_mode == "hashed":
        ranked = toks.select(
            F.col(id_col),
            F.array_sort(
                F.transform("__tk", lambda e: F.md5(e))
            ).alias("__tk"),
        ).withColumn("__n", F.size("__tk"))
    elif order_mode == "frequency":
        # the tokenized sets feed BOTH the count aggregate and the
        # rank join below — persist so tokenize/shingle (and any
        # upstream exchange) runs once, the minhash_lsh_dedup pattern
        toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
        flat = toks.select(
            F.col(id_col), F.explode("__tk").alias("__token")
        )
        counts = flat.groupBy("__token").agg(
            F.count(F.lit(1)).alias("__cnt")
        )
        ranked = (
            # vocab-sized dim: AQE auto-broadcasts it while it fits
            # (local corpora); past the threshold the shuffle join is
            # the honest plan — shingle vocabularies grow with the
            # corpus, so an unconditional broadcast would be wrong
            flat.join(counts, "__token")
            .groupBy(id_col)
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__cnt", "__token"))
                ).alias("__ord")
            )
            .select(
                F.col(id_col),
                F.expr("transform(__ord, x -> x.__token)").alias("__tk"),
                F.size("__ord").alias("__n"),
            )
        )
    else:
        raise ValueError(f"unknown order_mode {order_mode!r}")
    p, q = _threshold_ratio(threshold)
    ordered = (
        ranked.withColumn(
            "__prefix",
            F.slice(
                "__tk",
                1,
                # n - ceil(t·n) + 1 with ceil(p·n/q) as pure integer
                # div — see _threshold_ratio for why never a double
                F.expr(
                    f"CAST(__n - (({p}L * __n + {q - 1}) div {q}) + 1"
                    " AS int)"
                ),
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a = ordered.select(
        F.col(id_col).alias("id_a"),
        F.col("__tk").alias("__tka"),
        F.col("__n").alias("__na"),
        F.posexplode("__prefix").alias("__pa", "__token"),
    )
    b = ordered.select(
        F.col(id_col).alias("id_b"),
        F.col("__tk").alias("__tkb"),
        F.col("__n").alias("__nb"),
        F.posexplode("__prefix").alias("__pb", "__token"),
    )
    t_lit = F.lit(float(threshold))
    # PPJoin positional filter: a match at prefix positions (i, j)
    # bounds the whole intersection by 1 + min(na-i, nb-j) remaining
    # elements; candidates that cannot reach the overlap requirement
    # alpha = ceil(t/(1+t)·(na+nb)) = ceil(p·(na+nb)/(p+q)) die BEFORE
    # the pair materializes. All three pruning predicates are integer
    # cross-multiplications on the exact rational p/q — a double
    # product can overshoot a ceil boundary and prune a genuine
    # J == threshold pair (see _threshold_ratio). The final jaccard
    # filter keeps exactness of EMITTED pairs regardless; the rational
    # bounds keep COMPLETENESS exact too.
    na_l, nb_l = a["__na"].cast("long"), b["__nb"].cast("long")
    ubound = (
        1
        + F.least(a["__na"] - a["__pa"] - 1, b["__nb"] - b["__pb"] - 1)
    ).cast("long")
    # dedupe on the BARE id pair (a pair can match on several prefix
    # tokens): a distinct over rows still carrying both token arrays
    # shuffles pair-count × 2·|set| strings — measured GC-thrash at
    # sf0.1 — while the ids-only distinct is two ints per row; the
    # arrays re-attach from the (cached, small) per-doc table
    cand_ids = (
        a.join(
            b,
            (a["__token"] == b["__token"])
            & (a["id_a"] < b["id_b"])
            & (F.lit(p) * nb_l <= F.lit(q) * na_l)
            & (F.lit(p) * na_l <= F.lit(q) * nb_l)
            & (ubound * F.lit(p + q) >= F.lit(p) * (na_l + nb_l)),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    da = ordered.select(
        F.col(id_col).alias("id_a"),
        F.col("__tk").alias("__tka"),
        F.col("__n").alias("__na"),
    )
    db = ordered.select(
        F.col(id_col).alias("id_b"),
        F.col("__tk").alias("__tkb"),
        F.col("__n").alias("__nb"),
    )
    cand = cand_ids.join(da, "id_a").join(db, "id_b")
    common = F.size(F.array_intersect("__tka", "__tkb"))
    jac = common / (F.col("__na") + F.col("__nb") - common)
    return (
        cand.select(
            "id_a", "id_b", F.round(jac, 6).alias("jaccard")
        )
        .filter(F.col("jaccard") >= t_lit)
    )

def containment_prefix_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    set_col: str | None = None,
) -> DataFrame:
    """EXACT directed containment self-join with prefix filtering —
    c(A→B) = |A∩B| / |A| ≥ t: document A's element set is mostly
    inside B's (quote inclusion, subset-page detection, snippet
    provenance). The asymmetric sibling of ``jaccard_prefix_join``:
    Jaccard punishes |B|'s size, so a short quote inside a long page
    scores near zero there but 1.0 here.

    Candidate generation stays an equi-join with GUARANTEED recall:
    under the shared rare-first total order, if |A∩B| ≥ ⌈t·|A|⌉ =: α
    then one of A's first |A| − α + 1 elements is in the intersection
    (at most |A| − α elements of A are missing from it), so only A's
    prefix explodes on the probe side. Containment has NO upper size
    bound on B, so the B side is the full inverted index — the honest
    cost of the asymmetric predicate (the same index side every
    containment join in the set-similarity literature pays). Pruning
    in the join condition, all exact-rational integer
    cross-multiplications (``_threshold_ratio``): size bound
    q·|B| ≥ p·|A| (the intersection can't exceed |B|) and the
    positional bound (1 + min(|A|−i−1, |B|−j−1))·q ≥ p·|A| at matched
    prefix/index positions (i, j). Exact set intersection verifies
    candidates; emitted pairs satisfy q·|A∩B| ≥ p·|A| exactly.

    Output: directed ``(id_a, id_b, containment)`` rows (id_a ≠ id_b,
    6dp). ``set_col`` swaps in a precomputed element set (shingles for
    template-heavy corpora), as in ``jaccard_prefix_join``.
    """
    from pyspark import StorageLevel

    # no emptiness guard on __tk — empty/NULL sets explode to nothing
    # and candidates are inner-joined, while the pushed-down filter
    # re-derived the whole set expression single-task below the spread
    # Exchange (see jaccard_prefix_join)
    if set_col is not None:
        toks = df.select(
            F.col(id_col), F.array_distinct(F.col(set_col)).alias("__tk")
        )
    else:
        toks = df.select(
            F.col(id_col),
            F.array_distinct(
                F.filter(
                    F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("__tk"),
        )
    toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    flat = toks.select(F.col(id_col), F.explode("__tk").alias("__token"))
    counts = flat.groupBy("__token").agg(F.count(F.lit(1)).alias("__cnt"))
    ranked = (
        flat.join(counts, "__token")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__cnt", "__token"))
            ).alias("__ord")
        )
        .select(
            F.col(id_col),
            F.expr("transform(__ord, x -> x.__token)").alias("__tk"),
            F.size("__ord").alias("__n"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    p, q = _threshold_ratio(threshold)
    a = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col("__n").alias("__na"),
        F.posexplode(
            F.slice(
                "__tk",
                1,
                F.expr(
                    f"CAST(__n - (({p}L * __n + {q - 1}) div {q}) + 1"
                    " AS int)"
                ),
            )
        ).alias("__pa", "__token"),
    )
    b = ranked.select(
        F.col(id_col).alias("id_b"),
        F.col("__n").alias("__nb"),
        F.posexplode("__tk").alias("__pb", "__token"),
    )
    na_l, nb_l = a["__na"].cast("long"), b["__nb"].cast("long")
    ubound = (
        1 + F.least(a["__na"] - a["__pa"] - 1, b["__nb"] - b["__pb"] - 1)
    ).cast("long")
    cand_ids = (
        a.join(
            b,
            (a["__token"] == b["__token"])
            & (a["id_a"] != b["id_b"])
            & (F.lit(q) * nb_l >= F.lit(p) * na_l)
            & (ubound * F.lit(q) >= F.lit(p) * na_l),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    da = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col("__tk").alias("__tka"),
        F.col("__n").alias("__na"),
    )
    db = ranked.select(
        F.col(id_col).alias("id_b"),
        F.col("__tk").alias("__tkb"),
        F.col("__n").alias("__nb"),
    )
    cand = cand_ids.join(da, "id_a").join(db, "id_b")
    common = F.size(F.array_intersect("__tka", "__tkb")).cast("long")
    keep = common * F.lit(q) >= F.lit(p) * F.col("__na").cast("long")
    return cand.filter(keep).select(
        "id_a",
        "id_b",
        F.round(common / F.col("__na"), 6).alias("containment"),
    )


def _jaccard_rs_tokens(
    df: DataFrame, id_col: str, text_col: str, set_col: str | None, alias: str
) -> DataFrame:
    """Distinct element set per document for one side of the R-S join —
    same tokenization contract as ``jaccard_prefix_join`` (and the same
    no-emptiness-guard rule: empty/NULL sets explode to nothing, and a
    size filter on the derived array is pushed below the upstream
    spread Exchange with the whole set expression inlined)."""
    if set_col is not None:
        return df.select(
            F.col(id_col).alias(alias),
            F.array_distinct(F.col(set_col)).alias("__tk"),
        )
    return df.select(
        F.col(id_col).alias(alias),
        F.array_distinct(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("__tk"),
    )


def jaccard_prefix_join_rs(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    set_col: str | None = None,
    order_mode: str = "frequency",
) -> DataFrame:
    """EXACT cross-corpus (R-S) token-set similarity join with prefix
    filtering — the guaranteed-recall DOCUMENT-level decontamination
    shape: ``left`` is the big training corpus, ``right`` the small
    benchmark corpus, and every (train doc, bench doc) pair with
    Jaccard >= threshold over distinct elements is emitted. The
    probabilistic screens (n-gram sample in ``decontam_report``,
    embedding cosine in ``decontam_embedding``) can miss a rephrased
    near-copy; this join provably cannot, at the cost of exact set
    comparison — run it where recall is contractual (benchmark
    leakage audits).

    Scale shape — the asymmetry IS the design (unlike the self-join,
    where the measured-and-rejected asymmetric variant lives in the
    ``jaccard_prefix_join`` docstring):

    - The BENCH side is corpus-small by assumption (thousands of docs)
      → its exploded prefix index is broadcast (pinned with an explicit
      hint; exploded-aggregate sizes defeat the static planner's
      stats). The train side NEVER shuffles for candidate generation —
      prefix explode + broadcast hash probe are map-side, so candidate
      generation streams the 100 TB corpus once.
    - ``order_mode="frequency"`` (default) ranks both sides by TRAIN-
      corpus token rarity (count ASC, token ASC; bench-only tokens
      count 0 and sort first). Completeness needs only a SHARED total
      order; train-side stats make prefixes selective exactly where
      the volume is. Costs the train side its two stats shuffles
      (count aggregate + rank re-collect).
    - ``order_mode="hashed"`` sorts md5 digests instead — the train
      side becomes fully MAP-ONLY end to end (tokenize → sort → slice
      → explode → broadcast probe), zero train-side shuffles; prefixes
      lose rarity selectivity, so more candidate pairs reach the
      verify. Both modes return identical rows (exact Jaccard
      verifies); pick by corpus skew, pinned by a parity test.

    Candidate pruning as in the self-join: size filter
    t·|a| <= |b| <= |a|/t plus the PPJoin positional filter
    (ubound >= alpha = ceil(t/(1+t)·(na+nb))). Verification re-attaches
    the bench arrays by broadcast and the train arrays from the
    persisted ranked frame.

    Output: (id_l, id_r, jaccard) rounded to 6dp, jaccard >= threshold.
    """
    from pyspark import StorageLevel

    tl = _jaccard_rs_tokens(left, id_col, text_col, set_col, "id_l")
    tr = _jaccard_rs_tokens(right, id_col, text_col, set_col, "id_r")
    if order_mode == "hashed":
        rl = tl.select(
            "id_l",
            F.array_sort(F.transform("__tk", lambda e: F.md5(e))).alias(
                "__tk"
            ),
        ).withColumn("__n", F.size("__tk"))
        rr = tr.select(
            "id_r",
            F.array_sort(F.transform("__tk", lambda e: F.md5(e))).alias(
                "__tk"
            ),
        ).withColumn("__n", F.size("__tk"))
    elif order_mode == "frequency":
        tl = tl.persist(StorageLevel.MEMORY_AND_DISK)
        flat = tl.select("id_l", F.explode("__tk").alias("__token"))
        counts = flat.groupBy("__token").agg(
            F.count(F.lit(1)).alias("__cnt")
        )

        def _rank(side: DataFrame, sid: str) -> DataFrame:
            f = side.select(sid, F.explode("__tk").alias("__token"))
            return (
                # LEFT join: bench-only tokens take count 0 (rarest —
                # they can never match a train prefix token anyway,
                # they only pad the front of bench prefixes)
                f.join(counts, "__token", "left")
                .select(
                    sid,
                    F.struct(
                        F.coalesce("__cnt", F.lit(0).cast("long")).alias(
                            "__cnt"
                        ),
                        F.col("__token"),
                    ).alias("__o"),
                )
                .groupBy(sid)
                .agg(F.array_sort(F.collect_list("__o")).alias("__ord"))
                .select(
                    F.col(sid),
                    F.expr("transform(__ord, x -> x.__token)").alias("__tk"),
                    F.size("__ord").alias("__n"),
                )
            )

        rl, rr = _rank(tl, "id_l"), _rank(tr, "id_r")
    else:
        raise ValueError(f"unknown order_mode {order_mode!r}")

    p, q = _threshold_ratio(threshold)

    def _with_prefix(side: DataFrame) -> DataFrame:
        return side.withColumn(
            "__prefix",
            F.slice(
                "__tk",
                1,
                # exact-rational ceil — see _threshold_ratio
                F.expr(
                    f"CAST(__n - (({p}L * __n + {q - 1}) div {q}) + 1"
                    " AS int)"
                ),
            ),
        )

    ol = _with_prefix(rl).persist(StorageLevel.MEMORY_AND_DISK)
    orr = _with_prefix(rr).persist(StorageLevel.MEMORY_AND_DISK)
    a = ol.select(
        "id_l",
        F.col("__n").alias("__na"),
        F.posexplode("__prefix").alias("__pa", "__token"),
    )
    b = orr.select(
        "id_r",
        F.col("__n").alias("__nb"),
        F.posexplode("__prefix").alias("__pb", "__token"),
    )
    t_lit = F.lit(float(threshold))
    # integer cross-multiplied pruning bounds — see _threshold_ratio
    na_l, nb_l = a["__na"].cast("long"), b["__nb"].cast("long")
    ubound = (
        1
        + F.least(a["__na"] - a["__pa"] - 1, b["__nb"] - b["__pb"] - 1)
    ).cast("long")
    cand_ids = (
        a.join(
            F.broadcast(b),
            (a["__token"] == b["__token"])
            & (F.lit(p) * nb_l <= F.lit(q) * na_l)
            & (F.lit(p) * na_l <= F.lit(q) * nb_l)
            & (ubound * F.lit(p + q) >= F.lit(p) * (na_l + nb_l)),
        )
        .select("id_l", "id_r")
        .distinct()
    )
    da = ol.select("id_l", F.col("__tk").alias("__tka"), F.col("__n").alias("__na"))
    db = orr.select("id_r", F.col("__tk").alias("__tkb"), F.col("__n").alias("__nb"))
    cand = cand_ids.join(da, "id_l").join(F.broadcast(db), "id_r")
    common = F.size(F.array_intersect("__tka", "__tkb"))
    jac = common / (F.col("__na") + F.col("__nb") - common)
    return cand.select(
        "id_l", "id_r", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= t_lit)


def keep_best_per_cluster(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "p_quality",
) -> DataFrame:
    """Quality-aware survivor selection over near-dup clusters: keep
    the HIGHEST-quality member of each cluster (ties → smallest id)
    instead of ``near_dup_clusters``'s smallest-id convention — the
    curation semantics an LLM-data pipeline actually wants, since the
    lowest doc_id in a duplicate group is frequently the worst OCR /
    scrape of it.

    ``clusters`` is (id, cluster_id) (e.g. from ``near_dup_clusters``);
    ``quality`` maps id → score. LEFT join keeps unscored members
    rankable (NULLS LAST). The argmax window partitions by cluster_id —
    partition sizes are duplicate-group sizes, never corpus-scale.

    Output: (id, cluster_id, quality, keep) — exactly one keep=true
    row per cluster.
    """
    from pyspark.sql import Window

    j = clusters.join(
        quality.select(id_col, quality_col), id_col, "left"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last(quality_col), F.asc(id_col)
    )
    return j.withColumn("__rn", F.row_number().over(w)).select(
        id_col,
        "cluster_id",
        quality_col,
        (F.col("__rn") == 1).alias("keep"),
    )


def lsh_band_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    band_configs: tuple[int, ...] = (1, 2, 4, 8),
) -> DataFrame:
    """LSH tuning report: for each (bands b, rows r = k/b) split of the
    SAME k-permutation MinHash signature, the measured bucket/candidate
    workload on the actual corpus, next to the config's analytic
    S-curve midpoint s* = (1/b)^(1/r) (the Jaccard where collision
    probability 1−(1−sʳ)ᵇ crosses ~½, Leskovec-Rajaraman-Ullman
    ch. 3). "Measure, don't guess": before committing a (b, r) at
    100 TB you want the candidate-pair bill each setting actually
    generates on YOUR data, not just the theory curve.

    Scale shape: signatures are computed ONCE (map-only array fold,
    persisted); each config re-bands that frame with a projection and
    pays one bucket-count aggregation plus one distinct-pair self-join
    — the identical shapes the production dedup runs, so the report
    predicts the real job. s* is a Python-computed plan literal
    (identical in any engine — no cross-engine pow).

    Output one row per config: ``(n_bands, rows_per_band, s_star,
    n_buckets, n_multi_buckets, raw_comparisons, candidate_pairs)`` —
    ``raw_comparisons`` = Σ C(bucket,2) (the join work), ``candidate_
    pairs`` = distinct pairs after multi-band dedup (the verify work).
    """
    from pyspark import StorageLevel

    if not band_configs:
        raise ValueError("band_configs must be non-empty")
    for b in band_configs:
        if k % b:
            raise ValueError(f"bands={b} must divide k={k}")
    sig = minhash_signatures_arr(
        shingle_sets(df, id_col, text_col, n), id_col, k
    ).persist(StorageLevel.MEMORY_AND_DISK)
    outs = []
    for b in band_configs:
        r = k // b
        s_star = round((1.0 / b) ** (1.0 / r), 6)
        bands_df = lsh_bands(sig, id_col, k, b)
        buckets = bands_df.groupBy("band_idx", "band_hash").agg(
            F.count(F.lit(1)).alias("__c")
        )
        stats = buckets.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(
                F.when(F.col("__c") >= 2, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_multi_buckets"),
            F.sum(
                F.expr("CAST((__c * (__c - 1)) DIV 2 AS LONG)")
            ).alias("raw_comparisons"),
        )
        pairs = lsh_candidate_pairs(bands_df, id_col).agg(
            F.count(F.lit(1)).alias("candidate_pairs")
        )
        outs.append(
            stats.crossJoin(pairs).select(
                F.lit(b).alias("n_bands"),
                F.lit(r).alias("rows_per_band"),
                F.lit(s_star).alias("s_star"),
                "n_buckets",
                "n_multi_buckets",
                "raw_comparisons",
                "candidate_pairs",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def dedup_savings_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """What does exact dedup buy, per ``by`` group: documents and token
    occurrences that would be REMOVED (every non-keeper copy in a
    content-digest group, keeper = global min id) with removal
    attributed to the group of the removed document — a copy whose
    original lives in another source still counts against the source
    carrying the copy. The corpus-datasheet number that justifies (or
    kills) running dedup at 100 TB.

    Scale shape: one digest aggregation (the same single shuffle the
    dedup itself pays) produces the keeper table, which joins back on
    the digest — both sides partition on the SAME key, so the join
    reuses the aggregation's exchange; token counts ride the first
    scan as a codegen projection. Output is one row per group.

    Output: ``(by, n_docs, n_removed, tokens_total, tokens_removed,
    pct_docs_removed, pct_tokens_removed)``.
    """
    from icnarc_to_philips_linkage_spark.operators.text import token_count

    base = df.select(
        F.col(by).alias("__g"),
        F.col(id_col).alias("__id"),
        F.md5(F.col(text_col)).alias("__h"),
        token_count(text_col).cast("long").alias("__tok"),
    )
    keepers = base.groupBy("__h").agg(F.min("__id").alias("__keep"))
    rem = F.col("__id") != F.col("__keep")
    return (
        base.join(keepers, "__h")
        .groupBy(F.col("__g").alias(by))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(rem.cast("long")).alias("n_removed"),
            F.sum("__tok").alias("tokens_total"),
            F.sum(F.when(rem, F.col("__tok")).otherwise(F.lit(0))).alias(
                "tokens_removed"
            ),
        )
        .select(
            by,
            "n_docs",
            "n_removed",
            "tokens_total",
            "tokens_removed",
            F.round(
                F.col("n_removed") / F.greatest(F.col("n_docs"), F.lit(1)), 6
            ).alias("pct_docs_removed"),
            F.round(
                F.col("tokens_removed")
                / F.greatest(F.col("tokens_total"), F.lit(1)),
                6,
            ).alias("pct_tokens_removed"),
        )
    )


def bloom_fpr_report(
    build: DataFrame,
    probe: DataFrame,
    value_col: str,
    num_bits: int = 2048,
    k: int = 5,
    salt: str = "bloom",
) -> DataFrame:
    """Exact false-positive-rate audit of a TABLE-form Bloom filter:
    build the bit set from one corpus slice, probe another, and
    measure the realized FPR against exact membership — the sizing
    check you run before trusting a Bloom prefilter's designed rate
    (``bloom_bitmap``'s literal-bitmap fast path uses xxhash64 and a
    driver-collected bitmap; THIS variant keeps the filter as a
    ≤num_bits-row bit TABLE with md5-derived positions, the shape a
    cross-engine / persisted deployment uses, and what lets the
    DuckDB oracle replay every bit).

    Positions: ``p_i = int(md5('{salt}:{i}:' || value)[:8 hex]) mod
    num_bits`` — k independent md5 draws, engine-portable like every
    hash in sampling. A probe value "hits" iff ALL k of its positions
    are set (a groupBy over the k-row-per-value position join — the
    distributed semi-join formulation of Bloom probing). Exact truth
    comes from a distinct-value anti membership check in the same
    plan.

    Scale shape: the bit table is bounded by ``num_bits`` (broadcast
    to the probe join); build and probe each explode to k position
    rows map-side; no driver state. Output ONE row: ``(num_bits,
    n_hash, bits_set, n_build_distinct, n_probes, n_true_present,
    n_hits, n_false_pos, fpr)`` — fpr over the truly-absent probes.
    """
    if num_bits < 64:
        raise ValueError("num_bits too small")

    def pos(i: int):
        h = F.substring(
            F.md5(
                F.concat(
                    F.lit(f"{salt}:{i}:"),
                    F.col("__v").cast("string"),
                )
            ),
            1,
            8,
        )
        return F.conv(h, 16, 10).cast("long") % num_bits

    bvals = build.select(F.col(value_col).alias("__v")).filter(
        F.col("__v").isNotNull()
    ).distinct()
    pvals = probe.select(F.col(value_col).alias("__v")).filter(
        F.col("__v").isNotNull()
    ).distinct()
    bits = bvals.select(
        F.explode(
            F.array(*[pos(i).alias(f"p{i}") for i in range(k)])
        ).alias("__bit")
    ).distinct()
    probe_pos = pvals.select(
        "__v",
        F.explode(
            F.array(*[pos(i) for i in range(k)])
        ).alias("__bit"),
    )
    hits = (
        probe_pos.join(F.broadcast(bits), "__bit")
        .groupBy("__v")
        .agg(F.count(F.lit(1)).alias("__set"))
        .filter(F.col("__set") == k)
        .select("__v", F.lit(1).alias("__hit"))
    )
    truth = bvals.select(
        F.col("__v"), F.lit(1).alias("__present")
    )
    audited = (
        pvals.join(F.broadcast(hits), "__v", "left")
        .join(truth, "__v", "left")
        .select(
            F.coalesce("__hit", F.lit(0)).alias("__hit"),
            F.coalesce("__present", F.lit(0)).alias("__present"),
        )
    )
    fp = F.sum(
        F.when(
            (F.col("__hit") == 1) & (F.col("__present") == 0), 1
        ).otherwise(0)
    )
    stats = audited.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum("__present").alias("n_true_present"),
        F.sum("__hit").alias("n_hits"),
        fp.alias("n_false_pos"),
        F.when(
            (F.count(F.lit(1)) - F.sum("__present")) > 0,
            F.round(
                fp.cast("double")
                / (F.count(F.lit(1)) - F.sum("__present")),
                6,
            ),
        ).alias("fpr"),
    )
    bits_cnt = bits.agg(F.count(F.lit(1)).alias("bits_set"))
    build_cnt = bvals.agg(
        F.count(F.lit(1)).alias("n_build_distinct")
    )
    return (
        stats.crossJoin(F.broadcast(bits_cnt))
        .crossJoin(F.broadcast(build_cnt))
        .select(
            F.lit(num_bits).alias("num_bits"),
            F.lit(k).alias("n_hash"),
            "bits_set",
            "n_build_distinct",
            "n_probes",
            "n_true_present",
            "n_hits",
            "n_false_pos",
            "fpr",
        )
    )
