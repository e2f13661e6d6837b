"""Deduplication operators (north star BASELINE.json:6): exact,
MinHash+LSH, SimHash, n-gram Jaccard. All built from DataFrame
primitives — hashing via ``xxhash64`` (JVM-side, codegen'd), candidate
generation via band-bucket equi-joins so the shuffle key is always a
small hash, never document text.

Scale design: exact dedup shuffles 8-byte hashes; MinHash-LSH turns the
O(n²) near-dup problem into |bands| equi-joins on band hashes (the
classic shingle→minhash→band→bucket-join pipeline); the quadratic
verify step only ever runs on LSH candidates. The pure Jaccard operator
exists as the small-scale oracle-checkable ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gps_stream_processing_spark.functions.text import word_shingles


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content hash: one row per distinct text with the
    smallest id kept. Grouping on ``sha2`` keeps the shuffle narrow (32
    bytes/row instead of full documents) — at 100 TB the text never
    crosses the wire."""
    return (
        df.select(id_col, F.sha2(F.col(text_col), 256).alias("__h"))
        .groupBy("__h")
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .drop("__h")
        .select("keep_doc_id", "n_copies")
    )


def shingle_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct pairs — shared base for MinHash and
    Jaccard. ``shingle`` is the 8-byte ``xxhash64`` of the n-word shingle
    string, not the string itself: every downstream distinct / group-by /
    self-join then shuffles longs instead of ~20-char strings (at 100 TB
    the shingle text never crosses the wire; collision odds over 2^64 are
    negligible vs the LSH false-positive rate).

    The tokenization is materialized as a column BEFORE the shingle
    transform: inlining ``split(lower(text))`` into the higher-order
    lambda would re-evaluate the split per ``get`` call (no common-
    subexpression elimination inside HOF lambdas — measured 5-7x slower
    at sf0.1).

    Shingle dedup is PER-DOCUMENT (a (doc_id, shingle) pair can only
    repeat inside one document's row), so it runs as ``array_distinct``
    on the hash array BEFORE the explode — a narrow map, where a
    post-explode ``distinct()`` would be a full shuffle + hash-agg over
    |docs|x|shingles| rows (measured ~40% of the shingle-stage cost at
    sf0.1, and the difference between zero and one Exchange at 100 TB)."""
    toks = df.select(id_col, F.split(F.lower(F.col(text_col)), " ").alias("__toks"))
    sh_hashes = F.array_distinct(
        F.transform(
            word_shingles(F.col("__toks"), n, pre_tokenized=True),
            lambda s: F.xxhash64(s),
        )
    )
    return toks.select(id_col, F.explode(sh_hashes).alias("shingle"))


def line_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 10,
    boilerplate_min_docs: int = 2,
    keep_floor: float = 0.3,
) -> DataFrame:
    """Line-level exact dedup across the corpus (Dolma/CCNet-style):
    every document's text is cut into deterministic units, a unit that
    recurs in ``boilerplate_min_docs``+ DISTINCT documents is
    boilerplate and dropped from every document, and a document whose
    surviving-unit ratio falls below ``keep_floor`` is dropped
    entirely — the standard curation stage that strips nav bars,
    cookie banners and license headers the document-level dedups
    can't see. The unit here is a non-overlapping ``seg_words``-word
    segment (the testdata corpus carries no newlines; with real
    documents substitute ``split(text, '\\n')`` — the plan shape is
    identical).

    Scale design: segments are hashed map-side (``xxhash64`` of the
    joined segment, inside one narrow projection), so the corpus-wide
    frequency pass and the join back to documents shuffle ONLY
    (doc_id, 8-byte hash) pairs — document text never crosses the
    wire, the same discipline as :func:`exact_dedup`. Two shuffles
    total (count by hash, re-join on hash, both partitioned by the
    hash), each with map-side partial aggregation. No UDFs."""
    toks = df.select(
        id_col, F.split(F.lower(F.col(text_col)), " ").alias("__toks")
    )
    n_seg = F.ceil(F.size("__toks") / F.lit(float(seg_words))).cast("int")
    # Spark's sequence(0, stop) DESCENDS when stop < 0 — guard the
    # zero-word case explicitly rather than emitting [0, -1].
    seg_hashes = F.when(
        n_seg > 0,
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.xxhash64(
                F.array_join(
                    F.slice(F.col("__toks"), i * seg_words + 1, seg_words),
                    " ",
                )
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    seg = toks.select(id_col, F.explode(seg_hashes).alias("seg_h"))
    counts = seg.groupBy("seg_h").agg(
        F.countDistinct(id_col).alias("__n_docs")
    )
    kept = F.sum(
        F.when(F.col("__n_docs") < boilerplate_min_docs, 1).otherwise(0)
    )
    stats = (
        seg.join(counts, "seg_h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_segments"), kept.alias("n_kept"))
    )
    ratio = F.col("n_kept") / F.col("n_segments")
    return stats.select(
        id_col,
        "n_segments",
        "n_kept",
        F.round(ratio, 6).alias("kept_ratio"),
        (ratio >= F.lit(keep_floor)).alias("doc_kept"),
    )


def substring_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact SUBSTRING-level dedup audit (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    family): find duplicated ``span_words``-token spans at ARBITRARY
    offsets across (and within) documents — the duplicates that
    fixed-grid line dedup (:func:`line_dedup_stats`) structurally
    misses whenever a copied passage starts mid-segment. The paper
    uses a suffix array; the Spark-native equivalent is the stride-1
    overlapping shingle grid: every ``span_words``-word window at
    every offset is hashed, a window whose text occurs
    ``min_occurrences``+ times corpus-wide is duplicated, and per
    document the duplicated windows are merged into maximal covered
    token runs (gaps-and-islands over the DISTINCT covered positions,
    so overlapping windows never double-count a token).

    Scale design: windows are hashed map-side (xxhash64 of the joined
    window inside one narrow projection) so the corpus-wide frequency
    pass and the join back shuffle ONLY (doc_id, pos, 8-byte hash)
    rows — text never crosses the wire. Stride-1 multiplies the
    shuffled row count by ~word_count per doc (vs /10 for the line
    grid); that is the inherent cost of arbitrary-offset detection,
    and the 100 TB mitigation is :func:`substring_dedup_strided`
    (winnowing-selected seeds + duplicate-bounded stride-1
    extension) — this operator is the exact ground truth it is
    pinned against. The coverage explode runs over DUPLICATED
    windows only (duplicate-volume-bounded)."""
    k = span_words
    toks = df.select(
        id_col, F.split(F.lower(F.col(text_col)), " ").alias("__t")
    )
    nw = F.size("__t")
    # sequence(0, stop) DESCENDS when stop < 0 (the line_dedup_stats
    # guard): docs shorter than one window emit no positions. The
    # window is hashed as the token ARRAY slice (xxhash64 over
    # array<string> — equality-equivalent to hashing the joined
    # string since tokens cannot contain the split space), and the
    # whole expression stays INLINE in the generator: materializing
    # the array in a projection below the Generate made the
    # interpreted-HOF evaluation ~5x slower (7.1 s vs 1.3 s warm at
    # sf0.1, measured both ways).
    win_hashes = F.when(
        nw >= k,
        F.transform(
            F.sequence(F.lit(0), nw - k),
            lambda i: F.xxhash64(F.slice(F.col("__t"), i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    base = toks.select(id_col, nw.cast("bigint").alias("n_words"))
    g = toks.select(
        id_col, F.posexplode(win_hashes).alias("pos", "win_h")
    )
    # Corpus frequency as count(*) OVER (PARTITION BY win_h) instead
    # of groupBy + join-back: the two forms are row-identical, but the
    # agg+join shape materializes the stride-1 GRID TWICE (the agg
    # input and the join probe are separate subtrees — Spark plans no
    # ReusedExchange across them, so every upstream explode/scan/
    # semi-join re-runs) and invites AQE to broadcast a corpus-sized
    # counts table at high dup rates. The window form computes the
    # grid ONCE and moves it through ONE exchange. Measured on the
    # adversarial ~100% dup-rate octave (VERDICT r14 item 6): the
    # strided composition dropped 634 s -> ~60 s at 16x and its
    # 1x->16x exponent from 1.40 to ~sub-linear (SCALE.md r15 row).
    w_cnt = Window.partitionBy("win_h")
    dup = (
        g.withColumn("__cnt", F.count("*").over(w_cnt))
        .filter(F.col("__cnt") >= min_occurrences)
        .select(id_col, "pos")
    )
    # ONE hash-agg computes all three per-doc stats: the duplicated
    # window positions collect per doc (bounded by the doc's own word
    # count — the same bound as the token array itself), then a
    # sorted interval-union fold merges [p, p+k-1] windows into
    # maximal spans, counting covered tokens exactly. Merging when
    # p <= last_end + 1 (adjacent OR overlapping) is position-set
    # identical to the oracle's gaps-and-islands over DISTINCT
    # covered positions. This replaces the earlier coverage
    # explode + distinct + row_number window + second agg (three
    # extra shuffles; measured 7.4 s -> ~2.5 s warm at sf0.1).
    fold = (
        "aggregate(array_sort(collect_list(pos)),"
        " named_struct('spans', 0L, 'covered', 0L, 'last_end', -2L),"
        " (acc, p) -> CASE WHEN p > acc.last_end + 1"
        f" THEN named_struct('spans', acc.spans + 1L,"
        f" 'covered', acc.covered + {k}L, 'last_end', p + {k - 1}L)"
        f" ELSE named_struct('spans', acc.spans,"
        f" 'covered', acc.covered + (p + {k - 1}L - acc.last_end),"
        f" 'last_end', p + {k - 1}L) END)"
    )
    st = (
        dup.groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_dup_windows"),
            F.expr(fold).alias("__f"),
        )
        .select(
            id_col,
            "n_dup_windows",
            F.col("__f.spans").cast("bigint").alias("n_dup_spans"),
            F.col("__f.covered").cast("bigint").alias("dup_tokens"),
        )
    )
    out = base.select(
        id_col,
        "n_words",
        F.greatest(
            F.col("n_words") - F.lit(k - 1), F.lit(0).cast("bigint")
        ).alias("n_windows"),
    ).join(st, id_col, "left")
    z = F.lit(0).cast("bigint")
    return out.select(
        id_col,
        "n_words",
        "n_windows",
        F.coalesce("n_dup_windows", z).alias("n_dup_windows"),
        F.coalesce("n_dup_spans", z).alias("n_dup_spans"),
        F.coalesce("dup_tokens", z).alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", z).cast("double") / F.col("n_words"),
            6,
        ).alias("dup_token_frac"),
    )


def normalized_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode-CANONICALIZED exact dedup — real corpora carry the
    same text in composed and decomposed code-point forms (é as
    U+00E9 vs e + U+0301), mixed case, and ragged whitespace, and a
    byte-exact sha2 key treats every variant as a distinct document.
    Canonical key = sha2 over NFC(collapse_ws(lower(trim(text)))):
    lower/trim/whitespace-collapse run JVM-side; the NFC step is an
    Arrow-batched pandas UDF (``unicodedata.normalize`` — Spark has
    no NFC built-in; one vectorized crossing per batch, the
    sanctioned class-2 boundary). Returns per normalized group:
    (keep_doc_id = min id, n_copies, n_raw_variants = how many
    distinct raw byte-forms collapsed into the group).

    Scale shape: identical to exact_dedup — the canonical key hashes
    map-side and only (doc_id, 8-byte-hashable key) rows shuffle;
    the NFC crossing is one Arrow round-trip in the same scan
    projection, before any shuffle."""
    from gps_stream_processing_spark.functions.pandas_udfs import (
        nfc_normalize_series,
    )

    norm = nfc_normalize_series(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    )
    return (
        df.select(id_col, text_col, F.sha2(norm, 256).alias("__k"))
        .groupBy("__k")
        .agg(
            F.min(id_col).cast("bigint").alias("keep_doc_id"),
            F.count("*").cast("bigint").alias("n_copies"),
            F.countDistinct(text_col).cast("bigint").alias("n_raw_variants"),
        )
        .drop("__k")
    )


def winnow_seed_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 8,
    winnow: int = 8,
) -> DataFrame:
    """(id, sh) winnowing-selected seed window digests — the SEED
    stage of :func:`substring_dedup_strided` (exposed separately so
    it can be timed alone): per doc, the stride-1 md5
    window digests materialize once as a column, the leftmost-min of
    every ``winnow``-run is selected (content-defined, ~2/(w+1)
    density), and only the selected seeds explode."""
    k, w = span_words, winnow
    toks = df.select(
        id_col, F.split(F.lower(F.col(text_col)), " ").alias("__t")
    )
    nw = F.size("__t")
    # per-doc stride-1 md5 window digests, materialized ONCE as a
    # column (inlining the construction into the seed expression
    # below would re-run the n-digest transform per reference)
    hs = F.when(
        nw >= k,
        F.transform(
            F.sequence(F.lit(0), nw - k),
            lambda i: F.md5(F.array_join(F.slice(F.col("__t"), i + 1, k), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # winnow: argmin (leftmost) of every w-run of digests; slice
    # clamps at the tail, sequence(0, greatest(n-w, 0)) covers docs
    # with 1..w-1 windows with a single short run
    pick = (
        "transform(array_distinct(transform("
        f"sequence(0, greatest(size(__hs) - {w}, 0)),"
        f" j -> j + array_position(slice(__hs, j + 1, {w}),"
        f" array_min(slice(__hs, j + 1, {w}))) - 1)),"
        " p -> element_at(__hs, cast(p + 1 as int)))"
    )
    seeds = F.expr(
        "CASE WHEN size(__hs) = 0 THEN cast(array() as array<string>)"
        f" ELSE {pick} END"
    )
    return toks.select(id_col, hs.alias("__hs")).select(
        id_col, F.explode(seeds).alias("sh")
    )


def substring_dedup_strided(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 8,
    winnow: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """SEEDED substring dedup — the published mitigation for
    :func:`substring_dedup_stats`'s stride-1 row blowup at corpus
    scale (its own docstring promise). Two stages:

    1. SEED: per doc, select ~2/(w+1) of the stride-1 windows by
       WINNOWING (Schleimer et al. 2003, the MOSS fingerprinting
       scheme): over every run of ``winnow`` consecutive window
       hashes, keep the minimum (leftmost on ties). Selection is
       CONTENT-DEFINED, which is what makes seeding sound — a naive
       fixed-stride grid is not shift-invariant (a copy displaced by
       a non-multiple of the stride aligns ZERO seed windows on both
       sides and the duplicate is invisible), while winnowing
       guarantees any duplicated span of >= winnow + span_words − 1
       tokens selects the SAME window in every occurrence (the two
       occurrences share >= winnow consecutive hash values; the min
       of that shared run wins in both). Only the selected seeds are
       exploded and shuffled — the corpus-frequency pass runs on
       ~2/(w+1) of the stride-1 rows.
    2. EXTEND: docs holding a corpus-duplicated seed (the candidate
       set — duplicate-bounded, typically a small corpus fraction)
       re-run the exact stride-1 machinery of
       :func:`substring_dedup_stats` restricted to that subset,
       recovering the full maximal spans at arbitrary offsets;
       non-candidates report zeros without ever exploding.

    Approximation contract: spans >= winnow + span_words − 1 tokens
    are found EXACTLY as stride-1 would (the winnowing guarantee);
    shorter duplicated spans are found only if both holders are
    already candidates. Window hashes here are portable md5 hex
    (the seed ARGMIN must pick identically in Spark and the DuckDB
    oracle — lexicographic compare on identical digests; xxhash64
    has no DuckDB twin).

    Scale design: at 100 TB the stride-1 grid shuffles ~|tokens|
    rows; this plan shuffles ~2/(w+1) of that for the seed pass plus
    stride-1 over the duplicate-holding docs only. Same output
    schema as substring_dedup_stats."""
    k = span_words
    g = winnow_seed_table(df, id_col, text_col, span_words, winnow)
    # Seed frequency via count(*) OVER (PARTITION BY sh) — the same
    # one-exchange form as the stats stage (the groupBy + join-back
    # twin computed the winnow fold TWICE: no exchange reuse across
    # the agg and probe subtrees). cand is then PINNED: the extend
    # stage's semi join consumes it from inside a tree whose grid
    # feeds two downstream operators, and an unpinned cand would
    # replay the whole seed pipeline per consumer. doc-id-sized
    # (duplicate-bounded; at a worst-case 100% dup rate it is one
    # 8-byte id per doc), lazy — the first extend job materializes it.
    cand = (
        g.withColumn("__c", F.count("*").over(Window.partitionBy("sh")))
        .filter(F.col("__c") >= min_occurrences)
        .select(id_col)
        .distinct()
        .localCheckpoint(eager=False)
    )
    stats = substring_dedup_stats(
        df.join(cand, id_col, "left_semi"),
        id_col,
        text_col,
        span_words,
        min_occurrences,
    ).select(
        id_col, "n_dup_windows", "n_dup_spans", "dup_tokens", "dup_token_frac"
    )
    nw = F.size(F.split(F.lower(F.col(text_col)), " "))
    base = df.select(
        id_col,
        nw.cast("bigint").alias("n_words"),
        F.greatest(
            (nw - F.lit(k - 1)).cast("bigint"), F.lit(0).cast("bigint")
        ).alias("n_windows"),
    )
    z = F.lit(0).cast("bigint")
    return base.join(stats, id_col, "left").select(
        id_col,
        "n_words",
        "n_windows",
        F.coalesce("n_dup_windows", z).alias("n_dup_windows"),
        F.coalesce("n_dup_spans", z).alias("n_dup_spans"),
        F.coalesce("dup_tokens", z).alias("dup_tokens"),
        F.coalesce("dup_token_frac", F.lit(0.0)).alias("dup_token_frac"),
    )


def substring_dedup_cut(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_words: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """The ACTION side of :func:`substring_dedup_stats` — Lee et al.
    actually CUT the duplicated spans from the corpus; this emits the
    retained text: every token covered by any duplicated
    ``span_words``-window is removed (all occurrences — the paper's
    conservative variant), the rest re-joins in order. Returns
    (id, n_retained_tokens, retained_text).

    Same shuffle discipline as the stats operator: only
    (doc_id, pos, hash) rows move; the cut itself is a per-doc token
    filter against the doc's own duplicated-window position list
    (collected per doc, bounded by the doc's word count) — text is
    rewritten in the same scan that re-reads it, never shuffled."""
    k = span_words
    toks = df.select(
        id_col, F.split(F.lower(F.col(text_col)), " ").alias("__t")
    )
    nw = F.size("__t")
    win_hashes = F.when(
        nw >= k,
        F.transform(
            F.sequence(F.lit(0), nw - k),
            lambda i: F.xxhash64(F.slice(F.col("__t"), i + 1, k)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    g = toks.select(
        id_col, F.posexplode(win_hashes).alias("pos", "win_h")
    )
    # window-count frequency (the substring_dedup_stats r15 form): the
    # groupBy + join-back twin computed the stride-1 grid TWICE — no
    # exchange reuse across the agg and probe subtrees
    ps = (
        g.withColumn(
            "__cnt", F.count("*").over(Window.partitionBy("win_h"))
        )
        .filter(F.col("__cnt") >= min_occurrences)
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("__ps"))
    )
    # token i survives unless some duplicated window [p, p+k-1]
    # covers it; Spark's filter lambda index is 0-BASED (the oracle's
    # DuckDB list_filter index is 1-based — it shifts by one)
    retained = F.expr(
        "filter(__t, (x, i) -> NOT exists(__ps,"
        f" p -> i >= p AND i <= p + {k - 1}))"
    )
    return (
        toks.join(ps, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                "__ps", F.array().cast("array<int>")
            ).alias("__ps"),
            "__t",
        )
        .select(
            id_col,
            F.size(retained).cast("bigint").alias("n_retained_tokens"),
            F.array_join(retained, " ").alias("retained_text"),
        )
    )


def minhash_signatures(shingles: DataFrame, num_hashes: int = 16, id_col: str = "doc_id") -> DataFrame:
    """MinHash signature per doc: ``mh_i = min(xxhash64(seed_i, shingle))``.
    One hash-aggregate pass computes all permutations (seeded xxhash64
    columns, partial+final agg)."""
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Band the signature and bucket-join: docs sharing any band hash
    become candidate pairs. Shuffle key = (band_id, 8-byte band hash).

    Banding picks the S-curve: with 16 hashes, 8 bands × 2 rows gives
    P(candidate) = 1-(1-J²)⁸ ≈ 0.90 at J=0.5 and ≈ 1.0 at J≥0.8, while
    J=0.1 pairs surface only 7.7% of the time (and the exact-Jaccard
    verify step removes them)."""
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    banded = signatures.select(
        id_col, F.explode(F.array(*band_cols)).alias("band")
    ).select(id_col, "band.band_id", "band.band_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def jaccard_pairs(shingles: DataFrame, threshold: float, id_col: str = "doc_id",
                  candidates: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for doc pairs sharing ≥1 shingle
    (optionally restricted to LSH ``candidates``). This is the verify
    stage of near-dedup; standalone it is the oracle-checkable ground
    truth at small scale."""
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n"))
    if candidates is not None:
        # Push the candidate restriction BELOW the intersection join:
        # candidates ⋈ shingles(doc_a) ⋈ shingles(doc_b, shingle). The
        # expensive co-shingle join then touches only candidate pairs
        # (LSH output), never the full corpus — this is what makes
        # verify-on-candidates sub-quadratic at scale.
        sa = shingles.select(F.col(id_col).alias("doc_a"), "shingle")
        sb = shingles.select(F.col(id_col).alias("doc_b"), "shingle")
        inter = (
            candidates.join(sa, "doc_a")
            .join(sb, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_inter"))
        )
    else:
        a = shingles.alias("a")
        b = shingles.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
            )
            .agg(F.count("*").alias("n_inter"))
        )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    shingles: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """Asymmetric containment similarity C(A→B) = |A∩B| / |A| for doc
    pairs sharing ≥1 shingle — the sub-document duplicate detector:
    a short doc pasted inside a longer one has high containment but low
    Jaccard (the union is dominated by the long doc), so Jaccard-only
    dedup misses it. ``shingles`` must be distinct per (id_col,
    shingle) — duplicate rows inflate both n_inter and the per-doc
    sizes (same precondition as :func:`jaccard_pairs`; the shared
    shingle derivation already applies ``.distinct()``). One
    co-shingle equi-join computes the half-matrix
    (doc_a < doc_b) and projects BOTH directions' containments; a pair
    survives when either direction clears ``threshold``. Same join
    shape and scale path as :func:`jaccard_pairs` (bucketable by
    shingle; LSH candidates restrict it identically)."""
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("n_b"))
    cont_ab = F.col("n_inter") / F.col("n_a")
    cont_ba = F.col("n_inter") / F.col("n_b")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.greatest(cont_ab, cont_ba) >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.round(cont_ab, 6).alias("cont_a_in_b"),
            F.round(cont_ba, 6).alias("cont_b_in_a"),
        )
    )


def simhash16(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash per document: per-token hash, one vote per bit
    position, bit set where positive votes win. Single explode +
    hash-agg (16 conditional sums) — no UDF, no quadratic step.

    The token hash is the first 16 bits of md5 (not xxhash64): md5 is
    the one hash both Spark and DuckDB compute identically, which makes
    the whole fingerprint engine-portable and the query exactly
    oracle-checkable (same trick as the md5-prefix hash sampler)."""
    tok = df.select(
        id_col, F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("t")
    ).withColumn(
        "h", F.conv(F.substring(F.md5("t"), 1, 4), 16, 10).cast("int")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(16)
    ]
    sig = tok.groupBy(id_col).agg(*votes)
    bits = [
        F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(16)
    ]
    out = sig.select(id_col, sum(bits[1:], bits[0]).alias("simhash"))
    return out
