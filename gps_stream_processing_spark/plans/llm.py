"""LLM-data-pipeline queries (SURVEY §2.9 + north star BASELINE.json:6):
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding-cosine), similarity search (brute-force + LSH-bucketed ANN),
text analysis (wordcount, stats, tf-idf, language-ID, quality score,
token counting, fingerprinting) and multimodal column plumbing.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gps_stream_processing_spark.functions.text import (
    BPE_ISH_PATTERN,
    LANG_STOPWORDS,
    bpe_ish_count,
    quality_score,
    rolling_fingerprint,
    token_count,
)
from gps_stream_processing_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    line_dedup_stats,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_table,
    simhash16,
    substring_dedup_stats,
)
from gps_stream_processing_spark.operators.similarity import (
    cosine_pairs,
    cosine_topk,
    knn_per_label,
    lsh_bucket_ann,
)
from gps_stream_processing_spark.plans.registry import register, spread_scan, table

# Session-scoped memo for the shingle→Jaccard-pair→cluster chain shared
# by q_dedup_ngram_jaccard / q_dedup_near / q_dup_clusters /
# q_dedup_survivors: in a verification sweep each query used to rerun
# the whole pipeline (the pair join is the sweep's most expensive
# repeated subtree). Values are eagerly checkpointed DataFrames —
# (long, long)-ish rows, tiny to retain — keyed like
# sources.tables._TABLE_CACHE (applicationId, not id(spark): CPython
# reuses addresses after GC).
_DEDUP_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def _memo(spark: SparkSession, sf: str, what: str, build) -> DataFrame:
    app = spark.sparkContext.applicationId
    key = (app, sf, what)
    df = _DEDUP_MEMO.get(key)
    if df is None:
        # Bounded retention: the memo exists to share work WITHIN one
        # SF's verification sweep. Switching SF evicts this app's
        # entries for every other SF — dropping the last reference lets
        # the ContextCleaner release the checkpointed blocks — so at
        # most one SF's (small) pair tables stay pinned per app.
        for stale in [k for k in _DEDUP_MEMO if k[0] == app and k[1] != sf]:
            del _DEDUP_MEMO[stale]
        df = _DEDUP_MEMO[key] = build().localCheckpoint(eager=True)
    return df


def _shingles(spark: SparkSession, sf: str) -> DataFrame:
    """Checkpointed distinct (doc_id, 3-shingle) table — feeds both
    Jaccard self-join sides, the sizes agg, and minhash signatures."""
    return _memo(
        spark, sf, "shingles",
        lambda: shingle_table(table(spark, sf, "documents")),
    )


def _jaccard_pairs_05(spark: SparkSession, sf: str) -> DataFrame:
    """Checkpointed exact-Jaccard ≥ 0.5 near-dup pair table."""
    return _memo(
        spark, sf, "pairs05",
        lambda: jaccard_pairs(_shingles(spark, sf), threshold=0.5),
    )

# ------------------------------------------------------------------- dedup


@register(
    "q_dedup_exact",
    oracle="""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY text
    """,
    doc="Exact dedup: group on sha2(text) (8-byte shuffle key at scale), "
    "keep min doc_id. Oracle groups raw text — identical result absent "
    "sha256 collisions (SURVEY §2.9).",
)
def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return exact_dedup(table(spark, sf, "documents"))


@register(
    "q_dedup_normalized",
    # Same canonicalization chain both engines, same order:
    # NFC(collapse_ws(lower(trim(text)))) — DuckDB nfc_normalize
    # (utf8proc) twins the Arrow-batched unicodedata.normalize; the
    # engine groups the sha2 of the canonical form, the oracle the
    # canonical form itself (the q_dedup_exact collision argument).
    oracle=r"""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_raw_variants
    FROM documents
    GROUP BY nfc_normalize(regexp_replace(lower(trim(text)),
                                          '\s+', ' ', 'g'))
    """,
    doc="Unicode-NORMALIZED exact dedup (SURVEY §2.9 — the "
    "canonicalization real corpora need BEFORE any hash key: the "
    "same sentence ships composed (U+00E9) and decomposed "
    "(e+U+0301), mixed-case, ragged-whitespace, and byte-exact sha2 "
    "treats each variant as unique): canonical key = sha2 over "
    "NFC(collapse_ws(lower(trim(text)))), NFC via ONE Arrow-batched "
    "pandas UDF in the scan projection (Spark has no NFC built-in; "
    "unicodedata ≙ DuckDB's utf8proc nfc_normalize — composed/"
    "decomposed equivalence pytest-pinned on hand-built non-ASCII "
    "rows). Reports per group: survivor id, copy count, and how "
    "many distinct raw byte-forms collapsed. Scale shape identical "
    "to q_dedup_exact — the key hashes map-side, only (doc_id, key) "
    "shuffles.",
)
def q_dedup_normalized(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.dedup import normalized_dedup

    return normalized_dedup(table(spark, sf, "documents"))


@register(
    "q_dedup_lines",
    # Engine groups xxhash64(segment); oracle groups the raw segment
    # text — identical absent 64-bit collisions (the q_dedup_exact
    # argument). DuckDB list slice w[a:b] is 1-based INCLUSIVE both
    # ends and clamps past the end, mirroring Spark slice(w, a, 10).
    # kept_ratio rounded 6 dp; the keep flag compares the unrounded
    # exact n/m division against CAST(0.3 AS DOUBLE) on both engines.
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), seg AS (
      SELECT doc_id,
             array_to_string(w[(i*10+1):(i*10+10)], ' ') AS segment
      FROM words,
           UNNEST(generate_series(0,
                  CAST(ceil(len(w) / 10.0) AS BIGINT) - 1)) AS t(i)
    ), seg_docs AS (
      SELECT segment, COUNT(DISTINCT doc_id) AS n_docs
      FROM seg GROUP BY segment
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN d.n_docs < 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(CASE WHEN d.n_docs < 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS kept_ratio,
           (CAST(SUM(CASE WHEN d.n_docs < 2 THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*)) >= CAST(0.3 AS DOUBLE)
             AS doc_kept
    FROM seg s JOIN seg_docs d ON d.segment = s.segment
    GROUP BY s.doc_id
    """,
    doc="LINE-level exact dedup across the corpus (Dolma/CCNet "
    "boilerplate removal, SURVEY §2.9): cut every document into "
    "deterministic units (10-word segments here — the corpus has no "
    "newlines; '\\n'-split is the same plan), drop any unit appearing "
    "in ≥2 distinct documents CORPUS-WIDE, and flag documents whose "
    "surviving-unit ratio falls below 0.3 — the curation stage that "
    "catches nav bars/cookie banners/license headers that document-"
    "level dedup can't see. Shuffles only (doc_id, xxhash64) longs — "
    "segment text is hashed map-side and never crosses the wire.",
)
def q_dedup_lines(spark: SparkSession, sf: str) -> DataFrame:
    return line_dedup_stats(table(spark, sf, "documents"))


@register(
    "q_dedup_substring",
    # Engine counts xxhash64(window); oracle counts the raw window
    # text — identical absent 64-bit collisions (the q_dedup_lines
    # argument). DuckDB list slice t[a:b] is 1-based inclusive,
    # mirroring Spark slice(t, a, 8); generate_series is inclusive
    # and empty when stop < start, mirroring the guarded
    # sequence(0, n-8). All counts integer; the one ratio rounds 6dp.
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t,
             len(string_split(lower(text), ' ')) AS n_words
      FROM documents
    ), win AS (
      SELECT doc_id, i AS pos, array_to_string(t[(i+1):(i+8)], ' ') AS w
      FROM toks, UNNEST(generate_series(0, n_words - 8)) AS g(i)
      WHERE n_words >= 8
    ), cnt AS (
      SELECT w, COUNT(*) AS c FROM win GROUP BY w
    ), dup AS (
      SELECT win.doc_id, win.pos
      FROM win JOIN cnt ON cnt.w = win.w WHERE cnt.c >= 2
    ), cov AS (
      SELECT DISTINCT doc_id, p
      FROM dup, UNNEST(generate_series(pos, pos + 7)) AS s(p)
    ), isl AS (
      SELECT doc_id, p,
             p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
      FROM cov
    ), st AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_tokens,
             CAST(COUNT(DISTINCT g) AS BIGINT) AS n_dup_spans
      FROM isl GROUP BY doc_id
    ), dw AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_windows
      FROM dup GROUP BY doc_id
    )
    SELECT toks.doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(greatest(n_words - 7, 0) AS BIGINT) AS n_windows,
           COALESCE(dw.n_dup_windows, 0) AS n_dup_windows,
           COALESCE(st.n_dup_spans, 0) AS n_dup_spans,
           COALESCE(st.dup_tokens, 0) AS dup_tokens,
           ROUND(CAST(COALESCE(st.dup_tokens, 0) AS DOUBLE) / n_words, 6)
             AS dup_token_frac
    FROM toks
    LEFT JOIN st ON st.doc_id = toks.doc_id
    LEFT JOIN dw ON dw.doc_id = toks.doc_id
    """,
    doc="Exact SUBSTRING-level dedup (SURVEY §2.9; Lee et al. 2022 "
    "'Deduplicating Training Data Makes Language Models Better'): "
    "duplicated 8-word spans at ARBITRARY offsets across and within "
    "documents — the duplicates the fixed 10-word grid of "
    "q_dedup_lines structurally misses whenever a copied passage "
    "starts mid-segment. Stride-1 overlapping windows are hashed "
    "map-side, corpus-wide window frequency marks duplicates, and "
    "per doc the duplicated windows merge into maximal covered token "
    "runs (gaps-and-islands over DISTINCT covered positions, so "
    "overlapping windows never double-count a token). Reports per "
    "doc: window/dup-window counts, maximal dup spans, dup tokens, "
    "dup token fraction. Only (doc_id, pos, hash) rows shuffle; the "
    "100 TB mitigation for the stride-1 row blowup is IMPLEMENTED "
    "as q_dedup_substring_strided (winnowing seeds + duplicate-"
    "bounded extension); this key is the exact ground truth it is "
    "pinned against.",
)
def q_dedup_substring(spark: SparkSession, sf: str) -> DataFrame:
    return substring_dedup_stats(table(spark, sf, "documents"))


@register(
    "q_dedup_substring_cut",
    # Same window grid + frequency as q_dedup_substring; the cut
    # filters each doc's tokens against its own duplicated-window
    # position list. DuckDB's lambda index is 1-BASED (Spark's is
    # 0-based) — the (i - 1) below is that shift, not an off-by-one.
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t,
             len(string_split(lower(text), ' ')) AS n_words
      FROM documents
    ), win AS (
      SELECT doc_id, i AS pos, array_to_string(t[(i+1):(i+8)], ' ') AS w
      FROM toks, UNNEST(generate_series(0, n_words - 8)) AS g(i)
      WHERE n_words >= 8
    ), cnt AS (
      SELECT w, COUNT(*) AS c FROM win GROUP BY w
    ), dup AS (
      SELECT win.doc_id, win.pos
      FROM win JOIN cnt ON cnt.w = win.w WHERE cnt.c >= 2
    ), ps AS (
      SELECT doc_id, list(pos ORDER BY pos) AS ps FROM dup GROUP BY doc_id
    ), cutted AS (
      SELECT toks.doc_id,
             list_filter(toks.t, (x, i) ->
               len(list_filter(COALESCE(ps.ps, []),
                   p -> (i - 1) >= p AND (i - 1) <= p + 7)) = 0) AS r
      FROM toks LEFT JOIN ps ON ps.doc_id = toks.doc_id
    )
    SELECT doc_id,
           CAST(len(r) AS BIGINT) AS n_retained_tokens,
           -- DuckDB array_to_string([]) is NULL; Spark array_join([])
           -- is '' — a fully-cut doc must read '' on both sides
           COALESCE(array_to_string(r, ' '), '') AS retained_text
    FROM cutted
    """,
    doc="Substring-dedup CUT (SURVEY §2.9 — the action side of "
    "q_dedup_substring, the step Lee et al. 2022 actually apply to "
    "the training corpus): every token covered by any duplicated "
    "8-word window is removed (all occurrences — the paper's "
    "conservative variant) and the survivors re-join in order, "
    "emitting the retained text per document. Shuffle discipline "
    "unchanged — only (doc_id, pos, hash) rows move; the cut is a "
    "per-doc token filter against the doc's own duplicated-window "
    "position list, applied in the scan that re-reads the text.",
)
def q_dedup_substring_cut(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.dedup import (
        substring_dedup_cut,
    )

    return substring_dedup_cut(table(spark, sf, "documents"))


@register(
    "q_dedup_substring_strided",
    # Seed selection must pick IDENTICALLY in both engines, so the
    # window digests are portable md5 hex compared lexicographically
    # (the q_sample_hash discipline); list_position(list_min) ==
    # array_position(array_min) == leftmost argmin. The extension
    # stage is the q_dedup_substring oracle restricted to candidate
    # docs. DuckDB slice/generate_series clamping mirrors Spark's.
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t,
             len(string_split(lower(text), ' ')) AS n_words
      FROM documents
    ), hsa AS (
      SELECT doc_id,
             CASE WHEN n_words >= 8 THEN
               list_transform(generate_series(0, n_words - 8),
                 i -> md5(array_to_string(t[(i+1):(i+8)], ' ')))
             ELSE [] END AS hs
      FROM toks
    ), seed AS (
      SELECT doc_id, unnest(
        list_transform(
          list_distinct(list_transform(
            generate_series(0, greatest(len(hs) - 8, 0)),
            j -> j + list_position(hs[(j+1):(j+8)],
                                   list_min(hs[(j+1):(j+8)])) - 1)),
          p -> hs[p + 1])
      ) AS sh
      FROM hsa WHERE len(hs) >= 1
    ), scnt AS (
      SELECT sh, COUNT(*) AS c FROM seed GROUP BY sh
    ), cand AS (
      SELECT DISTINCT seed.doc_id
      FROM seed JOIN scnt USING (sh) WHERE scnt.c >= 2
    ), win AS (
      SELECT toks.doc_id, i AS pos,
             array_to_string(t[(i+1):(i+8)], ' ') AS w
      FROM toks JOIN cand ON cand.doc_id = toks.doc_id,
           UNNEST(generate_series(0, n_words - 8)) AS g(i)
      WHERE n_words >= 8
    ), cnt AS (
      SELECT w, COUNT(*) AS c FROM win GROUP BY w
    ), dup AS (
      SELECT win.doc_id, win.pos
      FROM win JOIN cnt ON cnt.w = win.w WHERE cnt.c >= 2
    ), cov AS (
      SELECT DISTINCT doc_id, p
      FROM dup, UNNEST(generate_series(pos, pos + 7)) AS s(p)
    ), isl AS (
      SELECT doc_id, p,
             p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
      FROM cov
    ), st AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dup_tokens,
             CAST(COUNT(DISTINCT g) AS BIGINT) AS n_dup_spans
      FROM isl GROUP BY doc_id
    ), dw AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_windows
      FROM dup GROUP BY doc_id
    )
    SELECT toks.doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(greatest(n_words - 7, 0) AS BIGINT) AS n_windows,
           COALESCE(dw.n_dup_windows, 0) AS n_dup_windows,
           COALESCE(st.n_dup_spans, 0) AS n_dup_spans,
           COALESCE(st.dup_tokens, 0) AS dup_tokens,
           COALESCE(ROUND(CAST(st.dup_tokens AS DOUBLE) / toks.n_words, 6),
                    0.0) AS dup_token_frac
    FROM toks
    LEFT JOIN st ON st.doc_id = toks.doc_id
    LEFT JOIN dw ON dw.doc_id = toks.doc_id
    """,
    doc="SEEDED substring dedup (SURVEY §2.9 — the 100 TB scale path "
    "q_dedup_substring's docstring promises): stage 1 selects "
    "~2/(w+1) of the stride-1 windows per doc by WINNOWING "
    "(Schleimer et al. 2003 — content-defined seeding; a naive "
    "fixed-stride grid is NOT shift-invariant, a copy displaced by "
    "a non-multiple of the stride aligns zero seeds), so only seed "
    "rows shuffle into the corpus-frequency pass; stage 2 re-runs "
    "the exact stride-1 span machinery restricted to docs holding a "
    "duplicated seed (duplicate-bounded). Spans >= w+k−1 = 15 tokens "
    "are recovered EXACTLY as stride-1 finds them (the winnowing "
    "guarantee, pytest-pinned on planted duplicates); shorter spans "
    "best-effort. Same output schema as q_dedup_substring.",
)
def q_dedup_substring_strided(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.dedup import (
        substring_dedup_strided,
    )

    return substring_dedup_strided(table(spark, sf, "documents"))


@register(
    "q_pipeline_pretrain",
    # Every stage is deterministic (segment-hash line dedup, sha2
    # exact dedup with min-id survivorship, an integer quality floor,
    # md5 shard hashing), so the four-stage composition carries ONE
    # exact end-to-end oracle — the q_pipeline_curation discipline
    # applied to this round's new stages.
    oracle="""
    WITH words AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), seg AS (
      SELECT doc_id,
             array_to_string(w[(i*10+1):(i*10+10)], ' ') AS segment
      FROM words,
           UNNEST(generate_series(0,
                  CAST(ceil(len(w) / 10.0) AS BIGINT) - 1)) AS t(i)
    ), sd AS (
      SELECT segment, COUNT(DISTINCT doc_id) AS nd
      FROM seg GROUP BY segment
    ), ls AS (
      SELECT s.doc_id,
             (CAST(SUM(CASE WHEN d.nd < 2 THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(*)) >= CAST(0.3 AS DOUBLE) AS doc_kept
      FROM seg s JOIN sd d ON d.segment = s.segment
      GROUP BY s.doc_id
    ), kept AS (
      SELECT d.doc_id, d.text, d.n_chars
      FROM documents d JOIN ls ON ls.doc_id = d.doc_id AND ls.doc_kept
    ), surv AS (
      SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY text
    ), corpus AS (
      SELECT k.doc_id, k.text FROM kept k
      JOIN surv s ON s.doc_id = k.doc_id
      WHERE k.n_chars >= 100
    ), sh AS (
      SELECT CAST(concat('0x',
                 substring(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 16 AS shard,
             len(string_split(text, ' ')) AS n_toks
      FROM corpus
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM sh GROUP BY shard
    """,
    doc="End-to-end PRETRAIN-CORPUS pipeline composing this round's "
    "new stages (SURVEY §2.9 ext, the capstone beside "
    "q_pipeline_curation): line-level boilerplate dedup (docs below "
    "the 0.3 surviving-segment floor dropped) → exact dedup (sha2, "
    "min-id survivor) → length quality gate (n_chars ≥ 100) → "
    "deterministic md5 shard assignment, reporting per-shard "
    "doc/token totals — documents in, training shards out, one exact "
    "oracle across all four stages. Scale: the stages share the "
    "dedup family's disciplines (only hashes and doc_ids shuffle; "
    "text is scanned, never moved except the final survivor join), "
    "and the shard write is partitionBy on the final 16-key column.",
)
def q_pipeline_pretrain(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.functions.text import token_count

    d = table(spark, sf, "documents")
    ls = line_dedup_stats(d)
    kept = d.join(
        ls.filter(F.col("doc_kept")).select("doc_id"), "doc_id"
    ).select("doc_id", "text", "n_chars")
    surv = kept.groupBy(F.sha2("text", 256)).agg(
        F.min("doc_id").alias("doc_id")
    )
    corpus = kept.join(surv.select("doc_id"), "doc_id").filter(
        F.col("n_chars") >= 100
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 16
    )
    return (
        corpus.select(
            shard.alias("shard"), token_count(F.col("text")).alias("__t")
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__t").cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "q_dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
    """,
    doc="Exact 3-gram-shingle Jaccard near-dup pairs ≥ 0.5 (the planted "
    "near-dups sit at ~0.99; random pairs at ~0.03). The small-scale "
    "ground truth the LSH path approximates (SURVEY §2.9).",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # The shingle table feeds both self-join sides + the sizes agg — a
    # lazy persist can't help the two join sides (both branches run in
    # the same stage and each computes the subtree), so the memo holds
    # an eager localCheckpoint (~35% faster at sf0.1 even stand-alone);
    # the pair table itself is memoized because three sibling queries
    # (q_dup_clusters, q_dedup_survivors, and this one) share it.
    return _jaccard_pairs_05(spark, sf)


@register(
    "q_vocab_coverage",
    # Cumulative token share at fixed vocab-size cutoffs. Counts are
    # exact integers; the share divides two BIGINTs as doubles with
    # identical association → ROUND(6) is safe. Rank ties break on
    # the token string so the cumulative sum is a total order.
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents
    ), counts AS (
      SELECT t, COUNT(*) AS c FROM tok WHERE t <> '' GROUP BY t
    ), ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rk,
             SUM(c) OVER (ORDER BY c DESC, t
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts
    ), tot AS (SELECT SUM(c) AS n_total, COUNT(*) AS n_vocab FROM counts)
    SELECT v.vocab_size,
           CAST(LEAST(v.vocab_size, tot.n_vocab) AS BIGINT) AS n_types,
           ROUND(CAST(MAX(CASE WHEN rk <= v.vocab_size THEN cum END)
                      AS DOUBLE) / tot.n_total, 6) AS coverage
    FROM ranked, tot,
         (SELECT unnest([100, 500, 1000, 5000]) AS vocab_size) v
    GROUP BY v.vocab_size, tot.n_vocab, tot.n_total
    """,
    doc="Vocabulary COVERAGE curve (SURVEY §2.9 ext): what fraction of "
    "all token occurrences the top-k most frequent types cover, at "
    "k ∈ {100, 500, 1000, 5000} — the sizing study behind every "
    "tokenizer/vocab decision (the knee tells you where added types "
    "stop paying for embedding-matrix rows). One explode + hash-agg "
    "(the Zipf head dominates, so map-side partials collapse almost "
    "everything) + one rank cumulative over the VOCABULARY (types, "
    "not tokens) riding the two-pass range-partitioned prefix sum — "
    "the type domain grows with the corpus (Heaps' law), so no "
    "single-partition window; the corpus totals come exactly from "
    "the pass-1 partials.",
)
def q_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = table(spark, sf, "documents")
    counts = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    from gps_stream_processing_spark.operators.prefix_sum import (
        running_totals,
    )

    # The rank/cumulative window runs over word TYPES — aggregate-
    # sized at the fixtures but Heaps-law-growing at corpus scale — so
    # it rides the two-pass prefix sum (VERDICT r13 item 5). (c DESC,
    # t) is a total order (t unique); the corpus totals come exactly
    # from the pass-1 partials, replacing the crossed 1-row aggregate
    # (same exact integer sums, one fewer counts recompute).
    ranked, totals = running_totals(
        counts,
        [F.desc("c"), F.col("t")],
        sums={"cum": "c"},
        count_col="rk",
        with_totals=True,
    )
    n_total = totals["cum"] or 0
    n_vocab = totals["n_rows"]
    sizes = F.explode(F.array(*[F.lit(k) for k in (100, 500, 1000, 5000)])).alias(
        "vocab_size"
    )
    return (
        ranked.select(sizes, "rk", "cum")
        .groupBy("vocab_size")
        .agg(
            F.max(
                F.when(F.col("rk") <= F.col("vocab_size"), F.col("cum"))
            ).alias("mcum")
        )
        .select(
            "vocab_size",
            F.least(
                F.col("vocab_size").cast("bigint"),
                F.lit(n_vocab).cast("bigint"),
            ).alias("n_types"),
            F.round(
                F.col("mcum").cast("double") / F.lit(n_total).cast("double"),
                6,
            ).alias("coverage"),
        )
    )


@register(
    "q_dup_rate_curve",
    # Thresholds compare against the 6-dp-ROUNDED jaccard on both
    # sides (the engine's pair table already carries the rounded
    # value), so a pair at exactly 0.600000 lands identically.
    # DuckDB VALUES literals are DECIMAL — cast to DOUBLE to match
    # the engine's float threshold column.
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT doc_a, doc_b,
             ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6)
               AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
    ), th AS (
      SELECT CAST(threshold AS DOUBLE) AS threshold
      FROM (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)) AS v(threshold)
    ), pt AS (
      SELECT threshold, doc_a, doc_b FROM pairs, th
      WHERE jaccard >= threshold
    ), np AS (
      SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM pt GROUP BY threshold
    ), nd AS (
      SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_dup_docs
      FROM (SELECT threshold, doc_a AS d FROM pt
            UNION ALL SELECT threshold, doc_b FROM pt)
      GROUP BY threshold
    )
    SELECT threshold, n_pairs, n_dup_docs FROM np JOIN nd USING (threshold)
    """,
    doc="Dedup threshold CALIBRATION curve (SURVEY §2.9 ext): pair "
    "count and affected-doc count at Jaccard cutoffs 0.5..0.9 — the "
    "sweep every dedup deployment runs BEFORE choosing its threshold "
    "(too low deletes genuine variants, too high leaves templated "
    "spam; the knee of this curve is the decision). Costs nothing "
    "beyond the memoized ≥0.5 pair table: the 5-threshold explode "
    "multiplies PAIRS (already ~duplicate-count-sized), never "
    "documents, and at 100 TB rides the same LSH-candidate "
    "restriction as the pair table itself.",
)
def q_dup_rate_curve(spark: SparkSession, sf: str) -> DataFrame:
    pairs = _jaccard_pairs_05(spark, sf)
    pt = pairs.select(
        F.explode(
            F.array(*[F.lit(t) for t in (0.5, 0.6, 0.7, 0.8, 0.9)])
        ).alias("threshold"),
        "doc_a",
        "doc_b",
        "jaccard",
    ).filter(F.col("jaccard") >= F.col("threshold"))
    np_ = pt.groupBy("threshold").agg(F.count("*").alias("n_pairs"))
    nd = (
        pt.select(
            "threshold", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("threshold")
        .agg(F.countDistinct("d").alias("n_dup_docs"))
    )
    return np_.join(nd, "threshold")


@register(
    "q_dedup_near",
    # Same oracle as the exact-Jaccard operator: the LSH candidates are a
    # deterministic function of the data (seeded xxhash64, no RNG), and on
    # this corpus every pair at J >= 0.5 survives the 8x2 banding (P(miss)
    # <= (1-J^2)^8 <= 10% only right at the threshold; verified equal to
    # the exact result at sf0.001/0.01/0.1). The verify step guarantees no
    # false positives, so LSH output == exact output here.
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
    """,
    doc="MinHash-LSH near-dup: shingle → 16 minhashes → 8 bands × 2 rows "
    "→ band-hash bucket join → exact-Jaccard verify on candidates only. "
    "The O(n²) step never materializes at scale (SURVEY §2.9). Oracle = "
    "the exact-Jaccard result (deterministic seeds; LSH recalls every "
    "pair ≥ threshold on this corpus and verify removes false positives).",
)
def q_dedup_near(spark: SparkSession, sf: str) -> DataFrame:
    # The memoized checkpoint serves the 4 references (minhash
    # signatures, sizes agg, both candidate-verify join sides) — the
    # LSH banding itself stays this query's own work.
    sh = _shingles(spark, sf)
    cands = lsh_candidate_pairs(minhash_signatures(sh))
    return jaccard_pairs(sh, threshold=0.5, candidates=cands)


@register(
    "q_dedup_incremental_near",
    # The q_dedup_near oracle discipline (LSH is deterministic and
    # recall-complete at J >= 0.5 on this corpus; verify removes false
    # positives) restricted to CROSS-SPLIT pairs, then aggregated per
    # batch doc; the corpus/batch split is the q_dedup_incremental
    # doc_id % 10 convention. MAX runs over the 6-dp-rounded jaccard
    # on both sides.
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT b.doc_id AS bdoc, a.doc_id AS cdoc, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
      GROUP BY 1, 2
    ), j AS (
      SELECT i.bdoc,
             ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6)
               AS jac
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.cdoc
      JOIN sizes sb ON sb.doc_id = i.bdoc
      WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
    ), agg AS (
      SELECT bdoc, CAST(COUNT(*) AS BIGINT) AS n_corpus_matches,
             MAX(jac) AS max_jaccard
      FROM j GROUP BY bdoc
    )
    SELECT d.doc_id,
           COALESCE(agg.n_corpus_matches, 0) AS n_corpus_matches,
           agg.max_jaccard,
           agg.bdoc IS NULL AS admitted
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 >= 8) d
    LEFT JOIN agg ON agg.bdoc = d.doc_id
    """,
    doc="Incremental-batch NEAR-dup gate (SURVEY §2.9 ext — the "
    "ingest-time sibling of q_dedup_near, completing the incremental "
    "story q_dedup_incremental starts with exact hashes): the new "
    "batch's MinHash band table joins the existing corpus's band "
    "MANIFEST (8-byte band hashes, not documents), candidate pairs "
    "are exact-Jaccard verified, and each batch doc reports its "
    "corpus match count, best similarity, and the admit decision. "
    "At 100 TB the manifest is the persisted LSH index every "
    "production dedup service maintains — the new batch never "
    "touches corpus text, only bucket-joined band hashes and the "
    "verified candidates' shingles. Corpus/batch split is the "
    "deterministic doc_id % 10 view convention; LSH is seeded and "
    "recall-complete at J >= 0.5 here, so the oracle re-derives the "
    "exact cross-split result.",
)
def q_dedup_incremental_near(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sh = _shingles(spark, sf)
    cands = lsh_candidate_pairs(minhash_signatures(sh))
    pairs = jaccard_pairs(sh, threshold=0.5, candidates=cands)
    in_batch_a = F.col("doc_a") % 10 >= 8
    in_batch_b = F.col("doc_b") % 10 >= 8
    cross = pairs.filter(in_batch_a != in_batch_b)
    per = cross.groupBy(
        F.when(in_batch_a, F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("doc_id")
    ).agg(
        F.count("*").cast("bigint").alias("n_corpus_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )
    batch = (
        table(spark, sf, "documents")
        .filter(F.col("doc_id") % 10 >= 8)
        .select("doc_id")
    )
    return batch.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_corpus_matches", F.lit(0).cast("bigint")).alias(
            "n_corpus_matches"
        ),
        "max_jaccard",
        F.col("n_corpus_matches").isNull().alias("admitted"),
    )


_SIMHASH_VOTES = ",\n         ".join(
    f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
    for i in range(16)
)
_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
)


@register(
    "q_dedup_simhash",
    # Exact oracle: the per-token hash is the first 16 bits of md5,
    # which DuckDB computes identically — the full fingerprint pipeline
    # (hash → bit votes → threshold) re-derives in portable SQL.
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 4)) AS INTEGER) AS h
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
            FROM documents)
    ), votes AS (
      SELECT doc_id,
         {_SIMHASH_VOTES}
      FROM tok GROUP BY doc_id
    ), sig AS (
      SELECT doc_id, {_SIMHASH_BITS} AS simhash FROM votes
    )
    SELECT simhash, MIN(doc_id) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS bucket_size
    FROM sig GROUP BY simhash
    """,
    doc="16-bit SimHash fingerprint per doc + bucket sizes (docs sharing "
    "a simhash are near-dup candidates); single hash-agg pass, no "
    "quadratic step (SURVEY §2.9). md5-derived token hash → the "
    "fingerprint is engine-portable, giving an exact oracle.",
)
def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    sig = simhash16(table(spark, sf, "documents"))
    return (
        sig.groupBy("simhash")
        .agg(F.count("*").alias("bucket_size"), F.min("doc_id").alias("keep_doc_id"))
        .select("simhash", "keep_doc_id", "bucket_size")
    )


@register(
    "q_dedup_embedding",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a JOIN e b
      ON a.vec_id < b.vec_id AND a.label = b.label
    WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.3
    """,
    doc="Embedding-cosine near-dup pairs within a label block (blocking "
    "keeps the pairwise join from going cartesian; the unblocked scale "
    "path is q_ann_lsh). Doubles widened on both sides (SURVEY §2.9).",
)
def q_dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.similarity import pairwise_cosine_np

    # numpy gram-matrix path (~6x the per-pair column fold at sf0.1);
    # cosine_pairs remains the pure-column twin, cross-checked in pytest
    return pairwise_cosine_np(table(spark, sf, "embeddings")).filter(
        F.col("cos_sim") >= 0.3
    )


# ------------------------------------------------------------- similarity


@register(
    "q_sim_search",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, ROUND(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    doc="Brute-force exact cosine top-10 against a stored query vector "
    "(broadcast 1-row query side; single scan + TakeOrderedAndProject; "
    "SURVEY §2.9).",
)
def q_sim_search(spark: SparkSession, sf: str) -> DataFrame:
    return cosine_topk(table(spark, sf, "embeddings"), query_vec_id=0, k=10)


@register(
    "q_rrf_fusion",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    lex AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS hits
      FROM toks WHERE tok IN ('hash', 'join', 'scan') GROUP BY 1
    ),
    lex_top AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY hits DESC, doc_id) AS r
      FROM lex ORDER BY hits DESC, doc_id LIMIT 100
    ),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    sem AS (
      SELECT vec_id AS doc_id,
             ROUND(list_cosine_similarity(embedding::DOUBLE[], q.qv), 6) AS cs
      FROM embeddings, q
      WHERE vec_id <> 0
    ),
    sem_top AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cs DESC, doc_id) AS r
      FROM sem ORDER BY cs DESC, doc_id LIMIT 100
    )
    SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / (60 + l.r), 0.0)
                 + COALESCE(1.0 / (60 + s.r), 0.0), 6) AS rrf
    FROM lex_top l FULL JOIN sem_top s ON l.doc_id = s.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
    doc="Reciprocal-rank fusion (hybrid retrieval, SURVEY §2.9, ext): "
    "fuse a lexical ranking (query-term hit counts for {hash, join, "
    "scan} — exact integers) with a semantic ranking (cosine vs the "
    "stored query vector, self-vector excluded like the other ANN ops, "
    "ranked on the 6-dp-rounded similarity with "
    "doc-id tie-break, the q_knn ordering discipline) via the standard "
    "RRF score sum(1 / (60 + rank)). The 100 TB shape of real hybrid "
    "search: each retriever emits a BOUNDED top-100 candidate list "
    "(TakeOrderedAndProject — per-partition top-k + merge, never a "
    "global sort); ranks are assigned within those k-row lists and the "
    "fusion join is k-row x k-row. Ranks are exact on both engines, "
    "and 1/(60+r) is the same fixed-shape IEEE expression — exact "
    "oracle, no reassociation risk.",
)
def q_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W

    from gps_stream_processing_spark.operators.similarity import cosine_sim

    d = table(spark, sf, "documents")
    e = table(spark, sf, "embeddings")
    lex_top = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .filter(F.col("tok").isin("hash", "join", "scan"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("hits"))
        .orderBy(F.desc("hits"), "doc_id")
        .limit(100)
        .withColumn(
            "r", F.row_number().over(W.orderBy(F.desc("hits"), "doc_id"))
        )
        .select("doc_id", "r")
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").cast("array<double>").alias("qv")
    )
    # The query's own vector is excluded from the semantic candidates
    # (it scores cosine 1.0 and would burn a fused top-20 slot) — the
    # same self-retrieval discipline as cosine_topk / lsh_bucket_ann /
    # ivf_ann (ADVICE r5).
    sem_top = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_sim(F.col("embedding").cast("array<double>"), F.col("qv")),
                6,
            ).alias("cs"),
        )
        .orderBy(F.desc("cs"), "doc_id")
        .limit(100)
        .withColumn("r", F.row_number().over(W.orderBy(F.desc("cs"), "doc_id")))
        .select(F.col("doc_id").alias("sdoc"), F.col("r").alias("sr"))
    )
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (60 + F.col("r")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (60 + F.col("sr")), F.lit(0.0)),
        6,
    )
    return (
        lex_top.join(sem_top, lex_top.doc_id == sem_top.sdoc, "full_outer")
        .select(
            F.coalesce("doc_id", "sdoc").alias("doc_id"), rrf.alias("rrf")
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(20)
    )


def _lsh_ann_oracle(
    n_tables: int = 8, n_planes: int = 8, dim: int = 64, k: int = 10
) -> str:
    """Full DuckDB oracle for the sign-LSH ANN: the hyperplanes are
    DETERMINISTIC rational hashes (operators/similarity.py
    _pseudo_plane — integer arithmetic mod 104729, then one fixed-shape
    div/mul/sub), not RNG, so every stage — plane table, sign-bit
    buckets, the radius-2 probe set, candidate join, exact cosine
    re-rank — is re-derivable in SQL. Float discipline: the bucket bit
    is sign(dot), and both engines fold the dot in the same sequential
    element order (the kmeans-oracle evidence: Spark `aggregate` ≡
    DuckDB `list_sum(list_transform(...))` bitwise on this data), so
    buckets agree exactly; a dot landing WITHIN one ulp of 0 could in
    principle flip a candidate, which would demote this to rows-only —
    verified hash-exact at sf0.001 and sf0.01."""
    masks = {0}
    for i in range(n_planes):
        masks.add(1 << i)
        for j in range(i + 1, n_planes):
            masks.add((1 << i) | (1 << j))
    masks_lit = ", ".join(str(m) for m in sorted(masks))
    rng = f"range(1, {dim + 1})"
    dotvp = f"list_sum(list_transform({rng}, i -> v.v[i] * pl.pl[i]))"
    return f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    planes AS MATERIALIZED (
      SELECT t, p, list(w ORDER BY j) AS pl
      FROM (
        SELECT t.t, p.p, j.j,
               CAST(((t.t * 97 + p.p) * 1000003 + j.j * 7919 + 12345)
                    % 104729 AS DOUBLE) / 104729.0 * 2.0 - 1.0 AS w
        FROM (SELECT unnest(range(0, {n_tables})) AS t) t,
             (SELECT unnest(range(0, {n_planes})) AS p) p,
             (SELECT unnest(range(0, {dim})) AS j) j
      ) GROUP BY t, p
    ),
    bits AS MATERIALIZED (
      SELECT v.vec_id, pl.t,
             CAST(SUM(CASE WHEN {dotvp} >= 0
                           THEN CAST(POW(2.0, pl.p) AS INT) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM v CROSS JOIN planes pl
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT qb.t, CAST(xor(qb.bucket, m.m) AS BIGINT) AS bucket
      FROM (SELECT t, bucket FROM bits WHERE vec_id = 0) qb,
           (SELECT unnest([{masks_lit}]) AS m) m
    ),
    cand AS (
      SELECT DISTINCT b.vec_id
      FROM bits b JOIN probes pr ON b.t = pr.t AND b.bucket = pr.bucket
      WHERE b.vec_id <> 0
    ),
    q AS (SELECT v AS qv FROM v WHERE vec_id = 0)
    SELECT c.vec_id,
           ROUND(
             list_sum(list_transform({rng}, i -> v.v[i] * q.qv[i]))
             / (SQRT(list_sum(list_transform({rng}, i -> v.v[i] * v.v[i])))
                * SQRT(list_sum(list_transform({rng}, i -> q.qv[i] * q.qv[i])))),
             6) AS cos_sim
    FROM cand c JOIN v ON v.vec_id = c.vec_id, q
    ORDER BY cos_sim DESC, c.vec_id LIMIT {k}
    """


@register(
    "q_ann_lsh",
    oracle=_lsh_ann_oracle(),
    doc="ANN scale path: multi-table random-hyperplane sign-LSH with "
    "Hamming-radius-2 multi-probe, exact re-rank within the probed "
    "buckets only (SURVEY §2.9 'IVF/LSH variant'). Measured recall@10 "
    "0.78 @ sf0.01 / 0.86 @ sf0.1 (grid in SCALE.md). Upgraded r5 from "
    "rows-only to a FULL oracle: the hyperplanes are deterministic "
    "rational hashes, so the whole index->probe->re-rank pipeline is "
    "re-derived in SQL (_lsh_ann_oracle); pytest keeps the recall "
    "floor vs exact top-k.",
)
def q_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    return lsh_bucket_ann(table(spark, sf, "embeddings"), query_vec_id=0, k=10)


def _sq8_oracle(dim: int = 64, n_cand: int = 20, k: int = 10) -> str:
    """Full DuckDB oracle for the SQ8 ANN: quantization is pure
    closed-form arithmetic (per-dim min/max → round to a 0..255 code →
    dequantize), so every stage re-derives in SQL. Float discipline:
    the quantize/dequantize expressions associate identically on both
    sides, per-dim min/max are exact (no arithmetic), and the ADC dot
    folds in the same sequential element order (the kmeans-oracle
    evidence: Spark `aggregate` ≡ DuckDB `list_sum(list_transform)`
    bitwise on this data); candidate and final orderings tie-break on
    vec_id over 6-dp-rounded scores."""
    rng = f"range(1, {dim + 1})"
    return f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT i.i, MIN(v.v[i.i]) AS mn, MAX(v.v[i.i]) AS mx
      FROM v, (SELECT unnest({rng}) AS i) i
      GROUP BY i.i
    ),
    a AS (
      SELECT list(mn ORDER BY i) AS mn_arr, list(mx ORDER BY i) AS mx_arr
      FROM dims
    ),
    dq AS MATERIALIZED (
      SELECT vec_id,
             list_transform({rng}, i ->
               CASE WHEN a.mx_arr[i] > a.mn_arr[i]
                    THEN a.mn_arr[i]
                         + ROUND((v.v[i] - a.mn_arr[i]) * 255.0
                                 / (a.mx_arr[i] - a.mn_arr[i]))
                           * (a.mx_arr[i] - a.mn_arr[i]) / 255.0
                    ELSE a.mn_arr[i] END) AS dv
      FROM v, a
    ),
    qdq AS (SELECT dv AS qdv FROM dq WHERE vec_id = 0),
    adot AS (
      SELECT dq.vec_id,
             ROUND(list_sum(list_transform({rng}, i -> dq.dv[i] * q.qdv[i])),
                   6) AS approx_dot
      FROM dq, qdq q WHERE dq.vec_id <> 0
    ),
    cand AS (
      SELECT vec_id, approx_dot FROM adot
      ORDER BY approx_dot DESC, vec_id LIMIT {n_cand}
    ),
    q AS (SELECT v AS qv FROM v WHERE vec_id = 0)
    SELECT c.vec_id, c.approx_dot,
           ROUND(
             list_sum(list_transform({rng}, i -> v.v[i] * q.qv[i]))
             / (SQRT(list_sum(list_transform({rng}, i -> v.v[i] * v.v[i])))
                * SQRT(list_sum(list_transform({rng}, i -> q.qv[i] * q.qv[i])))),
             6) AS cos_sim
    FROM cand c JOIN v ON v.vec_id = c.vec_id, q
    ORDER BY cos_sim DESC, c.vec_id LIMIT {k}
    """


@register(
    "q_ann_sq8",
    oracle=_sq8_oracle(),
    doc="ANN via int8 SCALAR QUANTIZATION (FAISS SQ8 shape, SURVEY "
    "§2.9): per-dim min/max → each float32 becomes an 8-bit code (4× "
    "memory cut; 16× vs float32 with the usual int8 SIMD kernels), "
    "approximate dot products on DEQUANTIZED codes select 20 "
    "candidates, exact cosine re-ranks to top-10. Completes the ANN "
    "family's memory axis next to the partition axes (LSH buckets, "
    "IVF lists): at 100 TB of embeddings, SQ is what makes the scan "
    "side FIT — codes stream at a quarter of the bandwidth and the "
    "re-rank touches only candidates. Quantization is closed-form "
    "(no RNG, no iteration), so the full index→ADC→re-rank pipeline "
    "carries an exact SQL oracle; recall floor pytest-pinned vs the "
    "exact top-k.",
)
def q_ann_sq8(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    dims = (
        emb.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    stats = dims.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)"
        ).alias("mn_arr"),
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)"
        ).alias("mx_arr"),
    )
    # quantize + dequantize in one expression (codes never materialize
    # separately here; a stored index would persist round(...) as TINYINT)
    dq = emb.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        F.expr(
            "transform(v, (x, i) -> CASE WHEN mx_arr[i] > mn_arr[i] "
            "THEN mn_arr[i] + round((x - mn_arr[i]) * 255.0 "
            "/ (mx_arr[i] - mn_arr[i])) * (mx_arr[i] - mn_arr[i]) / 255.0 "
            "ELSE mn_arr[i] END)"
        ).alias("dv"),
        "v",
    )
    qrow = dq.filter(F.col("vec_id") == 0).select(
        F.col("dv").alias("qdv"), F.col("v").alias("qv")
    )
    scored = dq.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qrow))
    adot = F.expr(
        "aggregate(zip_with(dv, qdv, (a, b) -> a * b), 0.0D, (acc, x) -> acc + x)"
    )
    cand = scored.select(
        "vec_id", "v", "qv", F.round(adot, 6).alias("approx_dot")
    ).orderBy(F.desc("approx_dot"), "vec_id").limit(20)
    dot = F.expr(
        "aggregate(zip_with(v, qv, (a, b) -> a * b), 0.0D, (acc, x) -> acc + x)"
    )
    nv = F.sqrt(
        F.expr("aggregate(transform(v, x -> x * x), 0.0D, (acc, x) -> acc + x)")
    )
    nq = F.sqrt(
        F.expr("aggregate(transform(qv, x -> x * x), 0.0D, (acc, x) -> acc + x)")
    )
    return (
        cand.select(
            "vec_id",
            "approx_dot",
            F.round(dot / (nv * nq), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


def _binary_ann_oracle(n_cand: int = 50, k: int = 10) -> str:
    """Full DuckDB oracle for the 1-bit binary-quantization ANN: the
    codes are integer-exact (sign bits summed as distinct powers of
    two — sum ≡ bitwise OR), the candidate score is an asymmetric fold
    whose two 32-dim halves add in the same order on both engines
    (the kmeans list_sum ≡ aggregate left-fold evidence), and the
    re-rank is the q_ann_sq8 exact-cosine expression. DuckDB range()
    is end-EXCLUSIVE and << overflows at 63 under its checked
    arithmetic, hence the two 32-bit-filled words."""
    return f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    dims AS (
      SELECT i.i, (MIN(v.v[i.i]) + MAX(v.v[i.i])) / 2.0 AS mid
      FROM v, (SELECT unnest(range(1, 65)) AS i) i GROUP BY i.i
    ),
    a AS (SELECT list(mid ORDER BY i) AS mid_arr FROM dims),
    codes AS MATERIALIZED (
      SELECT vec_id, v.v AS v,
        CAST(list_sum(list_transform(range(1, 33), i ->
          CASE WHEN v.v[i] > a.mid_arr[i]
               THEN (CAST(1 AS BIGINT) << (i - 1))
               ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS lo,
        CAST(list_sum(list_transform(range(33, 65), i ->
          CASE WHEN v.v[i] > a.mid_arr[i]
               THEN (CAST(1 AS BIGINT) << (i - 33))
               ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS hi
      FROM v, a
    ),
    qcen AS (
      SELECT list_transform(range(1, 65), i -> v.v[i] - a.mid_arr[i]) AS qc
      FROM v, a WHERE vec_id = 0
    ),
    cand AS (
      SELECT c.vec_id, c.v,
        ROUND(list_sum(list_transform(range(1, 33), i ->
           CASE WHEN (c.lo & (CAST(1 AS BIGINT) << (i - 1)))
                     <> CAST(0 AS BIGINT)
                THEN q.qc[i] ELSE -q.qc[i] END))
         + list_sum(list_transform(range(33, 65), i ->
           CASE WHEN (c.hi & (CAST(1 AS BIGINT) << (i - 33)))
                     <> CAST(0 AS BIGINT)
                THEN q.qc[i] ELSE -q.qc[i] END)), 6) AS approx_score
      FROM codes c, qcen q WHERE c.vec_id <> 0
      ORDER BY approx_score DESC, c.vec_id LIMIT {n_cand}
    ),
    q AS (SELECT v AS qv FROM v WHERE vec_id = 0)
    SELECT c.vec_id, c.approx_score,
           ROUND(
             list_sum(list_transform(range(1, 65), i -> c.v[i] * q.qv[i]))
             / (SQRT(list_sum(list_transform(range(1, 65),
                                             i -> c.v[i] * c.v[i])))
                * SQRT(list_sum(list_transform(range(1, 65),
                                               i -> q.qv[i] * q.qv[i])))),
             6) AS cos_sim
    FROM cand c, q
    ORDER BY cos_sim DESC, c.vec_id LIMIT {k}
    """


@register(
    "q_ann_binary",
    oracle=_binary_ann_oracle(),
    doc="ANN via 1-BIT BINARY QUANTIZATION + asymmetric ADC (the "
    "RaBitQ/BQ production shape — VERDICT r14 item 8, the binary "
    "endpoint of the memory axis beside SQ8's 4x and PQ's 32x): each "
    "64-dim vector becomes 64 SIGN BITS against the per-dim midrange "
    "(min/max are exact, so centering needs no float mean), packed "
    "into two 32-bit-filled BIGINT words — 16 bytes/vector, 16x "
    "under float32, and the integer codes are engine-portable where "
    "a <<63 word would trip DuckDB's checked shift. Candidates are "
    "scored ASYMMETRICALLY (the full-precision centered query folded "
    "against the sign bits: sum of +-qc_i by bit — symmetric Hamming "
    "measured recall 0.4/0.0 at sf0.01/0.1, asymmetric 0.7/0.8, the "
    "same reason RaBitQ keeps the query unquantized), top-50 by the "
    "integer-exact bit probe, then exact cosine re-ranks to top-10. "
    "At 100 TB the scan side is 16 bytes + two bit_count-class ops "
    "per vector; recall floor pytest-pinned vs exact top-k.",
)
def q_ann_binary(spark: SparkSession, sf: str) -> DataFrame:
    emb = table(spark, sf, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    return binary_ann_topk(emb)


def binary_ann_topk(emb: DataFrame) -> DataFrame:
    """The q_ann_binary core over any (vec_id, v: array<double>) DataFrame
    — kept apart from its table scans so the shipped plan code runs as
    is over any input of that shape (scaled or replicated), never a
    copy."""
    dims = (
        emb.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(((F.min("x") + F.max("x")) / F.lit(2.0)).alias("mid"))
    )
    stats = dims.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mid))),"
            " s -> s.mid)"
        ).alias("mid_arr")
    )

    def pack(lo_dim: int, hi_dim: int, shift_base: int) -> str:
        # sum of DISTINCT powers of two == bitwise OR — exact integers
        return (
            f"aggregate(transform(sequence({lo_dim}, {hi_dim}), i ->"
            " CASE WHEN element_at(v, i) > element_at(mid_arr, i)"
            f" THEN shiftleft(1L, i - {shift_base}) ELSE 0L END),"
            " 0L, (a, x) -> a + x)"
        )

    coded = emb.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        "v",
        "mid_arr",
        F.expr(pack(1, 32, 1)).alias("lo"),
        F.expr(pack(33, 64, 33)).alias("hi"),
    )
    qrow = coded.filter(F.col("vec_id") == 0).select(
        F.expr(
            "transform(sequence(1, 64), i ->"
            " element_at(v, i) - element_at(mid_arr, i))"
        ).alias("qc"),
        F.col("v").alias("qv"),
    )

    def adc(word: str, lo_dim: int, hi_dim: int, shift_base: int) -> str:
        return (
            f"aggregate(transform(sequence({lo_dim}, {hi_dim}), i ->"
            f" CASE WHEN ({word} & shiftleft(1L, i - {shift_base})) != 0L"
            " THEN element_at(qc, i) ELSE -element_at(qc, i) END),"
            " 0.0D, (a, x) -> a + x)"
        )

    scored = coded.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qrow))
    cand = scored.select(
        "vec_id",
        "v",
        "qv",
        F.round(
            F.expr(adc("lo", 1, 32, 1)) + F.expr(adc("hi", 33, 64, 33)), 6
        ).alias("approx_score"),
    ).orderBy(F.desc("approx_score"), "vec_id").limit(50)
    dot = F.expr(
        "aggregate(zip_with(v, qv, (a, b) -> a * b), 0.0D,"
        " (acc, x) -> acc + x)"
    )
    nv = F.sqrt(
        F.expr(
            "aggregate(transform(v, x -> x * x), 0.0D, (acc, x) -> acc + x)"
        )
    )
    nq = F.sqrt(
        F.expr(
            "aggregate(transform(qv, x -> x * x), 0.0D, (acc, x) -> acc + x)"
        )
    )
    return (
        cand.select(
            "vec_id",
            "approx_score",
            F.round(dot / (nv * nq), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@register(
    "q_knn",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
    ), ranked AS (
      SELECT vec_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT vec_id, CAST(rank AS INT) AS rank, neighbor_id, cos_sim
    FROM ranked WHERE rank <= 3
    """,
    doc="k-NN per label block: pairwise cosine within label, row_number "
    "≤ k per anchor (SURVEY §2.9). Both sides rank on the 6-dp-rounded "
    "similarity with neighbor-id tie-break, so the ordering is "
    "deterministic and engine-independent.",
)
def q_knn(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W

    from gps_stream_processing_spark.operators.similarity import pairwise_cosine_np

    sym = pairwise_cosine_np(table(spark, sf, "embeddings"), symmetric=True)
    w = W.partitionBy("vec_a").orderBy(F.col("cos_sim").desc(), "vec_b")
    return (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("vec_a").alias("vec_id"),
            F.col("rn").alias("rank"),
            F.col("vec_b").alias("neighbor_id"),
            "cos_sim",
        )
    )


# ----------------------------------------------------------- text analysis


@register(
    "q_text_wordcount",
    oracle="""
    SELECT word, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
    GROUP BY word
    """,
    doc="Tokenize + word count — explode + hash-agg (SURVEY §2.9).",
)
def q_text_wordcount(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_text_stats",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_chars), 6) AS avg_chars,
           ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_tokens,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang, source
    """,
    doc="Per-(lang, source) corpus statistics (SURVEY §2.9).",
)
def q_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(token_count(F.col("text"))), 6).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "q_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word FROM documents
    ), tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word
    ), df AS (
      SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY word
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT t.doc_id, t.word,
           ROUND(t.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
    FROM tf t JOIN df ON t.word = df.word CROSS JOIN n
    WHERE t.doc_id < 20
    """,
    doc="tf-idf: term frequency × ln(N/df). The df side is a tiny "
    "vocabulary dim → broadcast join; N is a broadcast 1-row aggregate "
    "(same pattern as q_tpch_q15) so the whole query is one job — no "
    "driver-side count() round-trip (SURVEY §2.9).",
)
def q_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_t = tok.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("__n_docs"))
    return (
        tf.filter(F.col("doc_id") < 20)
        .join(F.broadcast(df_t), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf")
                * F.log(F.col("__n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )


_BM25_TERMS = ("shuffle", "broadcast", "vector")
_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "q_bm25",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM tok WHERE word IN ('shuffle', 'broadcast', 'vector')
      GROUP BY doc_id, word
    ), dfreq AS (
      SELECT word, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
      FROM tok WHERE word IN ('shuffle', 'broadcast', 'vector')
      GROUP BY word
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             AVG(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl
      FROM documents
    ), dl AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
      FROM documents
    )
    SELECT t.doc_id,
           CAST(SUM(CAST(ROUND(
             ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
             * t.tf * ({_BM25_K1} + 1)
             / (t.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl)),
             6) AS DECIMAL(18,6))) AS DOUBLE) AS bm25
    FROM tf t
    JOIN dfreq d ON t.word = d.word
    JOIN dl ON t.doc_id = dl.doc_id
    CROSS JOIN stats s
    GROUP BY t.doc_id
    """,
    doc="BM25 relevance scoring of the whole corpus against a fixed "
    "3-term query (k1=1.2, b=0.75) — the retrieval-quality scorer a "
    "training-data pipeline uses for query-targeted subset selection. "
    "Same scale shape as q_tfidf: term stats are broadcast dims "
    "(df per query term, 1-row N/avgdl aggregate); the corpus side is "
    "one token scan, filtered to query terms BEFORE the aggregation. "
    "Per-term scores are rounded to 6 dp and summed in DECIMAL(18,6) on "
    "both engines so the 3-term sum is associativity-proof (SURVEY "
    "§2.9).",
)
def q_bm25(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    terms = list(_BM25_TERMS)
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    ).filter(F.col("word").isin(terms))
    tf = tok.groupBy("doc_id", "word").agg(
        F.count("*").cast("double").alias("tf")
    )
    dfreq = tok.groupBy("word").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    stats = d.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size(F.split(F.col("text"), " ")).cast("double")).alias("avgdl"),
    )
    dl = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("double").alias("dl")
    )
    k1, b = _BM25_K1, _BM25_B
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term_score = (
        idf
        * F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(term_score, 6).cast("decimal(18,6)").alias("ts"))
        .groupBy("doc_id")
        .agg(F.sum("ts").cast("double").alias("bm25"))
    )


def _lang_scores_sql() -> str:
    cols = []
    for lang in sorted(LANG_STOPWORDS):
        words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        cols.append(
            f"ROUND(CAST(len(list_filter(w, t -> t IN ({words}))) AS DOUBLE)"
            f" / len(w), 6) AS s_{lang}"
        )
    return ",\n           ".join(cols)


@register(
    "q_lang_id",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents
    ), scored AS (
      SELECT doc_id, lang,
           {_lang_scores_sql()}
      FROM tok
    )
    SELECT doc_id, lang, s_de, s_en, s_es, s_fr, s_zh,
           CASE greatest(s_de, s_en, s_es, s_fr, s_zh)
                WHEN s_de THEN 'de' WHEN s_en THEN 'en' WHEN s_es THEN 'es'
                WHEN s_fr THEN 'fr' ELSE 'zh' END AS pred_lang
    FROM scored
    """,
    doc="Lexicon language-ID heuristic: per-language stopword hit ratio, "
    "argmax with alphabetical tie-break. (The synthetic corpus vocabulary "
    "is English-ish, so the heuristic's accuracy is incidental — the "
    "operator contract is determinism + parity; SURVEY §2.9.)",
)
def q_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    # Materialize the token array once before the per-language scoring:
    # inlining the split into all 10 filter/size references defeats part
    # of codegen's subexpression elimination (measured ~20% at sf0.1;
    # milder than the inside-lambda trap on the shingle path, but free
    # to avoid).
    tokd = d.select("doc_id", "lang", F.split(F.lower("text"), " ").alias("__t"))
    toks = F.col("__t")

    def hit_ratio(words: tuple[str, ...]):
        # single-arg lambda (a 2-arg lambda would be read as (elem, idx))
        return F.round(
            F.size(F.filter(toks, lambda t: t.isin(*words))) / F.size(toks), 6
        )

    score_cols = {lang: hit_ratio(ws) for lang, ws in sorted(LANG_STOPWORDS.items())}
    scored = tokd.select(
        "doc_id", "lang", *[c.alias(f"s_{lang}") for lang, c in score_cols.items()]
    )
    mx = F.greatest(*[F.col(f"s_{lang}") for lang in sorted(LANG_STOPWORDS)])
    pred = F.when(F.col("s_de") == mx, "de")
    for lang in ("en", "es", "fr"):
        pred = pred.when(F.col(f"s_{lang}") == mx, lang)
    return scored.withColumn("pred_lang", pred.otherwise("zh"))


@register(
    "q_quality_score",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             string_split(lower(text), ' ') AS w,
             CAST(length(replace(text, ' ', '')) AS DOUBLE) AS n_alpha,
             CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS DOUBLE)
               AS n_punct,
             CAST(length(text) AS DOUBLE) AS n_len
      FROM documents
    )
    SELECT doc_id,
           CAST(len(w) AS INTEGER) AS n_tokens,
           ROUND(n_alpha / len(w), 6) AS avg_token_len,
           ROUND(n_punct / n_len, 6) AS punct_ratio,
           ROUND(CAST(len(list_filter(w, t -> t IN ('the','a','of','and','is','to')))
                 AS DOUBLE) / len(w), 6) AS stopword_ratio,
           ROUND(0.4 * least(1.0, len(w) / 100.0)
               + 0.3 * (1.0 - n_punct / n_len)
               + 0.3 * least(1.0, 5.0 * len(list_filter(w,
                     t -> t IN ('the','a','of','and','is','to'))) / len(w)), 6)
             AS quality
    FROM base
    """,
    doc="Document quality scoring: token count, avg token length, "
    "punctuation ratio, stopword ratio, weighted composite (SURVEY §2.9).",
)
def q_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.functions.text import (
        avg_token_len,
        punct_ratio,
        stopword_ratio,
    )

    d = table(spark, sf, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        F.round(avg_token_len(t), 6).alias("avg_token_len"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        quality_score(t).alias("quality"),
    )


@register(
    "q_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN}'))
                AS INTEGER) AS bpe_ish_tokens
    FROM documents
    """,
    doc="Token counting: whitespace + BPE-ish regex pre-tokenizer "
    "(letter runs | digit runs | single symbol; SURVEY §2.9).",
)
def q_token_count(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_count(F.col("text")).alias("bpe_ish_tokens"),
    )


@register(
    "q_chunk_docs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
      FROM documents
    )
    SELECT doc_id,
           CAST((s - 1) / 24 AS BIGINT) AS chunk_id,
           array_to_string(t[s : s + 31], ' ') AS chunk_text,
           CAST(len(t[s : s + 31]) AS INTEGER) AS chunk_tokens
    FROM toks
    JOIN generate_series(1, 256, 24) AS g(s)
      ON s <= GREATEST(1, n - 32 + 1)
    """,
    doc="Document chunking for LLM training/RAG pipelines (SURVEY §2.9): "
    "fixed 32-token windows at stride 24 (8-token overlap), start grid "
    "via sequence() + explode, window extraction via slice() — pure "
    "JVM-side array ops, no UDF, no shuffle (chunking is embarrassingly "
    "row-parallel; the explode multiplies rows ~n_tokens/stride within "
    "each scan partition). Oracle: DuckDB generate_series + 1-based "
    "inclusive list slicing reproduces the grid exactly.",
)
def q_chunk_docs(spark: SparkSession, sf: str) -> DataFrame:
    size, stride = 32, 24
    d = table(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("t"),
    ).withColumn("n", F.size("t"))
    return (
        toks.select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.lit(1), F.col("n") - F.lit(size - 1)),
                    F.lit(stride),
                )
            ).alias("s"),
        )
        .select(
            "doc_id",
            (((F.col("s") - 1) / stride).cast("bigint")).alias("chunk_id"),
            F.array_join(F.slice(F.col("t"), F.col("s"), F.lit(size)), " ").alias(
                "chunk_text"
            ),
            F.size(F.slice(F.col("t"), F.col("s"), F.lit(size))).alias("chunk_tokens"),
        )
    )


@register(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
             (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
    FROM documents
    """,
    doc="Rolling polynomial document fingerprint "
    "(acc*31 + ascii) mod 1e9+7 — JVM-side aggregate fold in Spark, "
    "list_reduce with prepended-0 init in DuckDB (SURVEY §2.9).",
)
def q_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    return d.select("doc_id", rolling_fingerprint(F.col("text")).alias("fingerprint"))


# ------------------------------------------------------------- multimodal


MULTIMODAL_FEATURE_SCHEMA = (
    "doc_id long, modality string, n_bytes int, meta_lang string, "
    "fake_feature double, width int, height int, n_frames int, "
    "frame_offsets array<int>"
)


def _image_decoder_available() -> bool:
    """Capability probe for a REAL image decoder (PIL). Evaluated once
    at registration time on the driver; in local mode driver == worker
    environment. On a heterogeneous cluster, pin the decision at submit
    time instead of probing per-worker — the batch stage takes the
    decision as a closure flag (``make_decode_batch``), never re-probes,
    so one plan always runs one path."""
    try:
        from PIL import Image  # noqa: F401

        return True
    except ImportError:
        return False


# One decision per process import, shared by the registration below
# (oracle choice) and the batch stage (decode path) — so the oracle the
# driver registers always matches the decode the stage runs. Matching
# across driver/worker assumes a homogeneous Python environment, the
# same assumption pyspark itself makes about installed packages.
_REAL_IMAGE_DECODE = _image_decoder_available()


def make_decode_batch(real_image: bool = False):
    """Multimodal decode / feature-extract / resize / frame-sample stage
    (one Arrow-batched mapInPandas pass), returned as a generator
    function for ``mapInPandas``.

    ``real_image=True`` decodes image payloads GENUINELY via PIL
    (undecodable/corrupt payloads yield null dims — the production
    behavior for a bad object) — available only where PIL is installed,
    and the registered query demotes to a rows-only oracle there
    because a real decoder is not SQL-expressible. ``real_image=False``
    (this container: media libs absent) stubs each decode with a
    deterministic fake, while the Spark-side plumbing (opaque binary
    column, typed metadata struct, Arrow batch shape, per-modality
    dispatch, output schema) is identical in both modes — a production
    decoder drops in without the plan changing.

    Per-modality outputs:
      text  -> fake_feature (byte-mean statistic)
      image -> decoded dims resized to a 256-max thumbnail edge
      audio -> fake_feature as pseudo-duration
      video -> frame-sample: n_frames + uniformly-sampled frame offsets
    """

    def _fake_feature(payload: bytes) -> float:
        # deterministic stand-in for a decoded-feature statistic
        return round(sum(payload[:64]) / max(1, min(len(payload), 64)) / 255.0, 6)

    def _fake_dims(payload: bytes) -> tuple[int | None, int | None]:
        # deterministic stand-in for decode+resize: pretend the payload
        # header carries dims, clamp to a 256-max thumbnail edge
        w = 64 + (payload[0] if payload else 0) * 7 % 1985
        h = 64 + (payload[-1] if payload else 0) * 11 % 1985
        scale = max(w, h) / 256.0
        return int(w / max(1.0, scale)), int(h / max(1.0, scale))

    def _real_dims(payload: bytes) -> tuple[int | None, int | None]:
        # genuine decode + thumbnail-resize arithmetic; a corrupt or
        # non-image payload yields null dims, not a failed stage
        import io

        from PIL import Image, UnidentifiedImageError

        try:
            with Image.open(io.BytesIO(payload)) as img:
                w, h = img.size
        except (UnidentifiedImageError, OSError, ValueError):
            return None, None
        scale = max(w, h) / 256.0
        return int(w / max(1.0, scale)), int(h / max(1.0, scale))

    _dims = _real_dims if real_image else _fake_dims

    def _fake_frames(payload: bytes) -> list[int]:
        # deterministic stand-in for frame sampling: 4 uniform offsets
        # over a pseudo frame count derived from payload length
        n = max(1, len(payload) // 16)
        return [int(i * n / 4) for i in range(4)]

    def _batches(it):
        for pdf in it:
            rows = []
            for doc_id, modality, payload, meta in zip(
                pdf["doc_id"], pdf["modality"], pdf["payload"], pdf["meta"]
            ):
                b = bytes(payload)
                row = {
                    "doc_id": doc_id,
                    "modality": modality,
                    "n_bytes": len(b),
                    "meta_lang": meta["lang"],
                    "fake_feature": _fake_feature(b),
                    "width": None,
                    "height": None,
                    "n_frames": None,
                    "frame_offsets": None,
                }
                if modality == "image":
                    row["width"], row["height"] = _dims(b)
                elif modality == "video":
                    offs = _fake_frames(b)
                    row["n_frames"], row["frame_offsets"] = len(offs), offs
                rows.append(row)
            yield pd.DataFrame(rows)

    return _batches


# Default-path decode stage: the driver's import-time capability
# decision BOUND BY VALUE into the serialized closure. A module-level
# `def` would pickle by reference and make each worker re-evaluate
# ``_REAL_IMAGE_DECODE`` on import — on a heterogeneous driver/worker
# environment (PIL on one side only) the driver-registered oracle kind
# and the worker's decode path would diverge silently (ADVICE r6). A
# closure returned by ``make_decode_batch`` has a non-importable
# qualname, so cloudpickle serializes it (flag included) by value: one
# plan, one path, decided once on the driver.
_decode_batch = make_decode_batch(real_image=_REAL_IMAGE_DECODE)


@register(
    "q_multimodal",
    # Exact oracle ONLY on the stub path: the stub decodes are
    # deterministic arithmetic over the utf-8 payload bytes, and the
    # corpus is pure ASCII (pinned by pytest), so byte k == ascii(char
    # k) and the whole fake-decode stage re-derives in SQL. Where a
    # REAL image decoder is importable (_REAL_IMAGE_DECODE) the stage
    # genuinely decodes — not SQL-expressible — so the key registers
    # with the contract's documented rows-only oracle there; the
    # Spark-side plumbing (binary column, struct metadata, Arrow batch
    # shape, dispatch, output schema) is pinned identically either way.
    oracle=None if _REAL_IMAGE_DECODE else """
    WITH base AS (
      SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 'image' WHEN 1 THEN 'video'
                             WHEN 2 THEN 'audio' ELSE 'text' END AS modality,
             text AS t, CAST(strlen(text) AS INT) AS len, lang
      FROM documents
    ), feat AS (
      SELECT doc_id, modality, len AS n_bytes, lang AS meta_lang,
             ROUND(COALESCE(list_sum(list_transform(
                       range(1, least(len, 64) + 1),
                       i -> ascii(substr(t, CAST(i AS INT), 1)))), 0)
                   / greatest(1, least(len, 64)) / 255.0, 6) AS fake_feature,
             64 + CASE WHEN len > 0 THEN ascii(substr(t, 1, 1)) ELSE 0 END
                  * 7 % 1985 AS w,
             64 + CASE WHEN len > 0 THEN ascii(substr(t, len, 1)) ELSE 0 END
                  * 11 % 1985 AS h,
             greatest(1, len // 16) AS nf
      FROM base
    )
    SELECT doc_id, modality, n_bytes, meta_lang, fake_feature,
           CASE WHEN modality = 'image'
                THEN CAST(trunc(w / greatest(1.0, greatest(w, h) / 256.0)) AS INT)
           END AS width,
           CASE WHEN modality = 'image'
                THEN CAST(trunc(h / greatest(1.0, greatest(w, h) / 256.0)) AS INT)
           END AS height,
           CASE WHEN modality = 'video' THEN 4 END AS n_frames,
           CAST(CASE WHEN modality = 'video'
                THEN list_transform(range(0, 4), i -> CAST(trunc(i * nf / 4) AS INT))
           END AS VARCHAR) AS frame_offsets
    FROM feat
    """,
    doc="Multimodal columns: opaque binary payload + typed metadata "
    "struct, pushed through one Arrow-batched mapInPandas "
    "decode/feature-extract/resize/frame-sample stage with per-modality "
    "dispatch (SURVEY §2.9). Image decode is capability-detected: "
    "genuine PIL decode where importable (rows-only oracle there), "
    "deterministic byte-arithmetic stub otherwise (exact SQL oracle — "
    "this container). Modality assigned round-robin so every branch "
    "runs.",
)
def q_multimodal(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    modality = (
        F.when(F.pmod("doc_id", F.lit(4)) == 0, "image")
        .when(F.pmod("doc_id", F.lit(4)) == 1, "video")
        .when(F.pmod("doc_id", F.lit(4)) == 2, "audio")
        .otherwise("text")
    )
    packed = d.select(
        "doc_id",
        modality.alias("modality"),
        F.encode("text", "utf-8").alias("payload"),  # opaque binary column
        F.struct("lang", "source", "n_chars").alias("meta"),
    )
    decoded = packed.mapInPandas(_decode_batch, schema=MULTIMODAL_FEATURE_SCHEMA)
    # frame_offsets stays array<int> through the pipeline; the final
    # projection stringifies it (identical '[0, 5, 10]' rendering in
    # Spark and DuckDB) because the differential gate's canonical sort
    # cannot order raw array cells.
    return decoded.withColumn("frame_offsets", F.col("frame_offsets").cast("string"))


@register(
    "q_ngrams",
    oracle="""
    WITH tok AS (
      SELECT string_split(lower(text), ' ') AS w FROM documents
    )
    SELECT w[i] || ' ' || w[i+1] AS bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM tok, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
    WHERE len(w) >= 2
    GROUP BY 1
    """,
    doc="Bigram counting over the corpus (n-gram surface of SURVEY §2.9; "
    "same materialize-tokens-then-transform shape as the shingle path).",
)
def q_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.functions.text import word_shingles

    d = table(spark, sf, "documents")
    toks = d.select(F.split(F.lower("text"), " ").alias("__t"))
    return (
        toks.select(
            F.explode(word_shingles(F.col("__t"), 2, pre_tokenized=True)).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_pipeline_curation",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, text,
             string_split(lower(text), ' ') AS w,
             CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS DOUBLE)
               / length(text) AS punct,
             CAST(len(list_filter(string_split(lower(text), ' '),
                  t -> t IN ('the','a','of','and','is','to'))) AS DOUBLE)
               / len(string_split(lower(text), ' ')) AS stop_ratio
      FROM documents
    ), quality AS (
      SELECT doc_id, lang, text, len(w) AS n_tokens,
             ROUND(0.4 * least(1.0, len(w) / 100.0)
                 + 0.3 * (1.0 - punct)
                 + 0.3 * least(1.0, 5.0 * stop_ratio), 6) AS q
      FROM scored
    ), kept AS (
      SELECT * FROM quality WHERE q >= 0.5 AND n_tokens >= 20
    ), deduped AS (
      SELECT MIN(doc_id) AS doc_id, ANY_VALUE(lang) AS lang,
             ANY_VALUE(n_tokens) AS n_tokens, ANY_VALUE(q) AS q
      FROM kept GROUP BY text
    ), sampled AS (
      SELECT * FROM deduped
      WHERE substring(md5(doc_id::VARCHAR), 1, 1) IN
            ('0','1','2','3','4','5','6','7')
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_quality
    FROM sampled GROUP BY lang
    """,
    doc="End-to-end training-data curation pipeline (the north-star "
    "composite): quality gate (composite score >= 0.5, >= 20 tokens) -> "
    "exact dedup keeping the smallest doc_id per text -> deterministic "
    "md5 half-sample -> per-language token/quality accounting. Every "
    "stage is deterministic, so the whole pipeline carries one exact "
    "oracle. Plan shape at 100 TB: narrow scoring map (pushdown-friendly "
    "predicates), one dedup shuffle on the 32-byte sha2 (oracle groups "
    "raw text - same result absent collisions), scan-side sample "
    "filter, final partial+final agg (SURVEY §2.9).",
)
def q_pipeline_curation(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = table(spark, sf, "documents")
    # stage 1: quality gate — token array materialized once (no-CSE-in-
    # lambda discipline), score as pure column arithmetic
    tokd = d.select(
        "doc_id", "lang", "text", F.split(F.lower("text"), " ").alias("__t")
    )
    toks = F.col("__t")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "is", "to"))
    )
    punct = (
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"[^a-z0-9\s]"), 0)).cast(
            "double"
        )
        / F.length("text")
    )
    q = F.round(
        0.4 * F.least(F.lit(1.0), F.size(toks) / F.lit(100.0))
        + 0.3 * (F.lit(1.0) - punct)
        + 0.3 * F.least(F.lit(1.0), 5.0 * stop_hits / F.size(toks)),
        6,
    )
    kept = tokd.select(
        "doc_id", "lang", "text", F.size(toks).alias("n_tokens"), q.alias("q")
    ).filter((F.col("q") >= 0.5) & (F.col("n_tokens") >= 20))
    # stage 2: exact dedup, smallest doc_id survives (sha2 shuffle key)
    w = W.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    deduped = (
        kept.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "text")
    )
    # stage 3: deterministic half-sample (reproducible across engines)
    sampled = deduped.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            *"01234567"
        )
    )
    # stage 4: corpus accounting
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        # q is pre-rounded to 6 dp, so the DECIMAL(18,6) cast is exact and
        # the associative DECIMAL sum makes the mean partition-order-stable
        # (double avg() round-flips at half boundaries).
        F.round(
            F.sum(F.col("q").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
        ).alias("avg_quality"),
    )


CENTROID_SCHEMA = "label long, dim_idx int, centroid double"


def _centroid_groups(pdf: pd.DataFrame) -> pd.DataFrame:
    """Batch applyInPandas stage (SURVEY §2.10): per-label embedding
    centroid via numpy column means — one Arrow batch per label group.
    Kahan-style pairwise summation in numpy matches a sequential-sum
    oracle at 6 dp for these magnitudes (pinned by the driver check)."""
    import numpy as np

    m = np.stack(pdf["v"].to_numpy())
    mean = m.mean(axis=0)
    return pd.DataFrame(
        {
            "label": pdf["label"].iloc[0],
            "dim_idx": range(len(mean)),
            "centroid": np.round(mean, 6),
        }
    )


@register(
    "q_applyinpandas_centroid",
    oracle="""
    SELECT label, CAST(t.i - 1 AS INTEGER) AS dim_idx,
           ROUND(AVG(CAST(embedding[t.i] AS DOUBLE)), 6) AS centroid
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    GROUP BY 1, 2
    """,
    doc="Batch applyInPandas (SURVEY §2.10): per-label embedding "
    "centroid, one numpy mean per Arrow group batch - the vectorized "
    "escape hatch for group-shaped linear algebra. Oracle unnests and "
    "averages per (label, dim).",
)
def q_applyinpandas_centroid(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    return e.groupBy("label").applyInPandas(_centroid_groups, schema=CENTROID_SCHEMA)


def _ivf_ann_oracle(dim: int = 64, k: int = 10, n_probe: int = 6) -> str:
    """Full DuckDB oracle for the IVF ANN: the quantizer is
    deterministic (per-label mean centroids, no RNG), so centroid
    build, nearest-centroid assignment, the query's n_probe list
    selection, and the exact re-rank are all re-derivable in SQL.
    Float discipline: assignments and probe selection order on RAW
    cosine values — per-dimension centroid means reassociate (~1e-15)
    and the engine's driver-side probe ranking uses numpy — but the
    synthetic label blocks keep every vector/centroid decision far
    from any tie, verified hash-exact at sf0.001 and sf0.01; a
    near-tie would demote this to rows-only (the recall-floor pytest
    stays either way)."""
    rng = f"range(1, {dim + 1})"

    def dot(a: str, b: str) -> str:
        return f"list_sum(list_transform({rng}, i -> {a}[i] * {b}[i]))"

    def cos(a: str, b: str) -> str:
        return f"{dot(a, b)} / (SQRT({dot(a, a)}) * SQRT({dot(b, b)}))"

    return f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cd AS (
      SELECT label AS list_id, d.i AS i, AVG(v.v[d.i]) AS m
      FROM v CROSS JOIN (SELECT unnest({rng}) AS i) d
      GROUP BY 1, 2
    ),
    cents AS MATERIALIZED (
      SELECT list_id, list(m ORDER BY i) AS cv FROM cd GROUP BY list_id
    ),
    assigned AS MATERIALIZED (
      SELECT vec_id, v, list_id FROM (
        SELECT v.vec_id, v.v, c.list_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {cos("v.v", "c.cv")} DESC, c.list_id
               ) AS rn
        FROM v CROSS JOIN cents c
      ) t WHERE rn = 1
    ),
    q AS MATERIALIZED (SELECT v AS qv FROM v WHERE vec_id = 0),
    probes AS (
      SELECT c.list_id
      FROM cents c, q
      ORDER BY {cos("c.cv", "q.qv")} DESC, c.list_id DESC
      LIMIT {n_probe}
    )
    SELECT a.vec_id,
           ROUND({cos("a.v", "q.qv")}, 6) AS cos_sim
    FROM assigned a JOIN probes p ON a.list_id = p.list_id, q
    WHERE a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id LIMIT {k}
    """


@register(
    "q_ann_ivf",
    oracle=_ivf_ann_oracle(),
    doc="ANN via IVF (inverted-file) index: per-label centroids as the "
    "coarse quantizer, nearest-centroid assignment, n_probe=6 posting "
    "lists probed, exact re-rank inside them — the 'IVF variant' scale "
    "path of SURVEY §2.9 (recall@10 0.9/0.7 at sf0.01/sf0.1; raise "
    "n_probe for more). Upgraded r5 from rows-only to a FULL oracle: "
    "the quantizer is deterministic mean centroids, so the whole "
    "build->assign->probe->re-rank pipeline is re-derived in SQL "
    "(_ivf_ann_oracle); pytest keeps the recall floor.",
)
def q_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.similarity import ivf_ann

    return ivf_ann(table(spark, sf, "embeddings"), query_vec_id=0, k=10)


def _ivfsq_oracle(dim: int = 64, k: int = 10, n_probe: int = 6, n_cand: int = 20) -> str:
    """Full DuckDB oracle for IVF×SQ8: the IVF stages splice from
    _ivf_ann_oracle (deterministic per-label centroids, assignment,
    n_probe selection) and the quantization stages from _sq8_oracle
    (closed-form per-dim min/max → code → dequantize), so the composed
    pipeline stays exactly re-derivable. Same float discipline as
    both parents."""
    rng = f"range(1, {dim + 1})"

    def dot(a: str, b: str) -> str:
        return f"list_sum(list_transform({rng}, i -> {a}[i] * {b}[i]))"

    def cos(a: str, b: str) -> str:
        return f"{dot(a, b)} / (SQRT({dot(a, a)}) * SQRT({dot(b, b)}))"

    return f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cd AS (
      SELECT label AS list_id, d.i AS i, AVG(v.v[d.i]) AS m
      FROM v CROSS JOIN (SELECT unnest({rng}) AS i) d
      GROUP BY 1, 2
    ),
    cents AS MATERIALIZED (
      SELECT list_id, list(m ORDER BY i) AS cv FROM cd GROUP BY list_id
    ),
    assigned AS MATERIALIZED (
      SELECT vec_id, v, list_id FROM (
        SELECT v.vec_id, v.v, c.list_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {cos("v.v", "c.cv")} DESC, c.list_id
               ) AS rn
        FROM v CROSS JOIN cents c
      ) t WHERE rn = 1
    ),
    q AS MATERIALIZED (SELECT v AS qv FROM v WHERE vec_id = 0),
    probes AS (
      SELECT c.list_id
      FROM cents c, q
      ORDER BY {cos("c.cv", "q.qv")} DESC, c.list_id DESC
      LIMIT {n_probe}
    ),
    dims AS (
      SELECT i.i, MIN(v.v[i.i]) AS mn, MAX(v.v[i.i]) AS mx
      FROM v, (SELECT unnest({rng}) AS i) i
      GROUP BY i.i
    ),
    a AS (
      SELECT list(mn ORDER BY i) AS mn_arr, list(mx ORDER BY i) AS mx_arr
      FROM dims
    ),
    qdq AS (
      SELECT list_transform({rng}, i ->
               CASE WHEN a.mx_arr[i] > a.mn_arr[i]
                    THEN a.mn_arr[i]
                         + ROUND((q.qv[i] - a.mn_arr[i]) * 255.0
                                 / (a.mx_arr[i] - a.mn_arr[i]))
                           * (a.mx_arr[i] - a.mn_arr[i]) / 255.0
                    ELSE a.mn_arr[i] END) AS qdv
      FROM q, a
    ),
    probed AS (
      SELECT s.vec_id, s.v,
             list_transform({rng}, i ->
               CASE WHEN a.mx_arr[i] > a.mn_arr[i]
                    THEN a.mn_arr[i]
                         + ROUND((s.v[i] - a.mn_arr[i]) * 255.0
                                 / (a.mx_arr[i] - a.mn_arr[i]))
                           * (a.mx_arr[i] - a.mn_arr[i]) / 255.0
                    ELSE a.mn_arr[i] END) AS dv
      FROM assigned s JOIN probes p ON s.list_id = p.list_id, a
      WHERE s.vec_id <> 0
    ),
    cand AS (
      SELECT vec_id, v,
             ROUND(list_sum(list_transform({rng}, i -> dv[i] * qd.qdv[i])),
                   6) AS approx_dot
      FROM probed, qdq qd
      ORDER BY approx_dot DESC, vec_id LIMIT {n_cand}
    )
    SELECT c.vec_id, c.approx_dot,
           ROUND({cos("c.v", "q.qv")}, 6) AS cos_sim
    FROM cand c, q
    ORDER BY cos_sim DESC, c.vec_id LIMIT {k}
    """


@register(
    "q_ann_ivfsq",
    oracle=_ivfsq_oracle(),
    doc="IVF × SQ8 composed ANN (the FAISS `IVFx,SQ8` production "
    "index, SURVEY §2.9): the coarse quantizer prunes WHICH vectors "
    "are scanned (n_probe=6 posting lists), int8 scalar quantization "
    "cuts the BYTES per scanned vector (4×), and only the 20 best "
    "ADC-scored candidates pay an exact re-rank — the two registered "
    "axes (q_ann_ivf, q_ann_sq8) multiplied. Both stages are "
    "deterministic/closed-form, so the COMPOSED pipeline still "
    "carries an exact SQL oracle (centroid build → assignment → "
    "probe → quantize → ADC → re-rank, all re-derived); recall floor "
    "pytest-pinned vs exact top-k.",
)
def q_ann_ivfsq(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.similarity import ivf_sq_ann

    return ivf_sq_ann(table(spark, sf, "embeddings"), query_vec_id=0, k=10)


def _pq_ann_oracle(
    dim: int = 64,
    m: int = 16,
    n_codes: int = 16,
    k: int = 10,
    n_cand: int = 50,
) -> str:
    """Full DuckDB oracle for PQ ANN: codebook training is
    deterministic one-round Lloyd per subspace (init = each
    subspace's slice of the n_codes lowest-vec_id vectors — the
    _kmeans_oracle init discipline; one assignment + one mean
    update, emptied codes keeping their init slice via the LEFT
    JOIN COALESCE), so train, per-subspace encoding (list_position
    of the list_min over exact L2 folds — first-index tie-break,
    mirroring array_position/array_min), the query LUT, the ADC
    sum, and the exact re-rank are all re-derived in SQL. Float
    discipline: every subspace fold is the proven Spark-aggregate ≡
    DuckDB-list_sum(list_transform) sequential shape; the m-term
    ADC sum rides the same equivalence; update AVGs reassociate
    ~1e-15 but encode decisions sit far from ties on this corpus
    (the IVF-oracle argument), hash-verified at sf0.001/0.01/0.1."""
    sub = dim // m
    rng = f"range(1, {dim + 1})"

    def dot(a: str, b: str) -> str:
        return f"list_sum(list_transform({rng}, i -> {a}[i] * {b}[i]))"

    def cos(a: str, b: str) -> str:
        return f"{dot(a, b)} / (SQRT({dot(a, a)}) * SQRT({dot(b, b)}))"

    l2 = (
        f"list_sum(list_transform(range(1, {sub + 1}), j ->"
        f" (v[s * {sub} + j] - c[s * {sub} + j])"
        f" * (v[s * {sub} + j] - c[s * {sub} + j])))"
    )
    dists = f"list_transform(cbl, c -> {l2})"
    qdot_sub = (
        f"list_sum(list_transform(range(1, {sub + 1}), j ->"
        f" qv[s * {sub} + j] * c[s * {sub} + j]))"
    )
    enc = (
        f"list_transform(range(0, {m}), s ->"
        f" list_position({dists}, list_min({dists})))"
    )
    return f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS MATERIALIZED (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS code,
             v AS c
      FROM (SELECT * FROM v ORDER BY vec_id LIMIT {n_codes})
    ),
    cb0 AS MATERIALIZED (SELECT list(c ORDER BY code) AS cbl FROM c0),
    enc0 AS MATERIALIZED (
      SELECT vec_id, v.v AS v, {enc} AS codes FROM v, cb0
    ),
    upd AS (
      SELECT s.s, e.codes[s.s + 1] AS code, d.j,
             AVG(e.v[s.s * {sub} + d.j]) AS mv
      FROM enc0 e
      CROSS JOIN (SELECT unnest(range(0, {m})) AS s) s
      CROSS JOIN (SELECT unnest(range(1, {sub + 1})) AS j) d
      GROUP BY 1, 2, 3
    ),
    usub AS (
      SELECT s, code, list(mv ORDER BY j) AS sv FROM upd GROUP BY s, code
    ),
    subs AS (
      SELECT c0.code, s.s,
             COALESCE(u.sv,
                      c0.c[(s.s * {sub} + 1):(s.s * {sub} + {sub})]) AS sv
      FROM c0 CROSS JOIN (SELECT unnest(range(0, {m})) AS s) s
      LEFT JOIN usub u ON u.s = s.s AND u.code = c0.code
    ),
    cb AS MATERIALIZED (
      SELECT list(c ORDER BY code) AS cbl FROM (
        SELECT code, flatten(list(sv ORDER BY s)) AS c
        FROM subs GROUP BY code
      )
    ),
    q AS MATERIALIZED (SELECT v AS qv FROM v WHERE vec_id = 0),
    lut AS MATERIALIZED (
      SELECT list_transform(range(0, {m}), s ->
               list_transform(cbl, c -> {qdot_sub})) AS lt
      FROM cb, q
    ),
    e1 AS MATERIALIZED (
      SELECT vec_id, v.v AS v, {enc} AS codes FROM v, cb
    ),
    adot AS (
      SELECT e.vec_id, e.v,
             ROUND(list_sum(list_transform(range(0, {m}), s ->
                     lt[s + 1][codes[s + 1]])), 6) AS approx_dot
      FROM e1 e, lut WHERE e.vec_id <> 0
    ),
    cand AS (
      SELECT vec_id, v, approx_dot FROM adot
      ORDER BY approx_dot DESC, vec_id LIMIT {n_cand}
    )
    SELECT c.vec_id, c.approx_dot,
           ROUND({cos("c.v", "q.qv")}, 6) AS cos_sim
    FROM cand c, q
    ORDER BY cos_sim DESC, c.vec_id LIMIT {k}
    """


@register(
    "q_ann_pq",
    oracle=_pq_ann_oracle(),
    doc="ANN via PRODUCT QUANTIZATION (FAISS PQ, SURVEY §2.9 — "
    "completes the memory-axis triad beside SQ8 and IVF): 16 "
    "subspaces × 16-code Lloyd-trained codebooks (8 bytes/vector vs "
    "256 — 32×), codes assigned by exact per-subspace L2 argmin, "
    "search via ADC — the query builds one m×|codes| lookup table "
    "and every stored vector's score is 16 table lookups, never a "
    "64-dim multiply; exact cosine re-ranks the 50 best. "
    "Deterministic training (lowest-id init + one mean update, the "
    "q_kmeans discipline, all subspaces in ONE pass) keeps the full "
    "train→encode→LUT→ADC→re-rank pipeline SQL-re-derivable; "
    "recall@10 = 0.9 at sf0.01 and sf0.1, floor pytest-pinned. At "
    "100 TB the codes column streams at ~1/32 the float32 bandwidth "
    "and the codebook rides an ~8 KB broadcast.",
)
def q_ann_pq(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.similarity import pq_ann

    return pq_ann(table(spark, sf, "embeddings"), query_vec_id=0, k=10)


def _ivfpq_oracle(
    dim: int = 64,
    m: int = 16,
    n_codes: int = 16,
    k: int = 10,
    n_probe: int = 6,
    n_cand: int = 50,
    n_rounds: int = 3,
) -> str:
    """Full DuckDB oracle for IVF×PQ (true IVFADC, residual-encoded):
    the IVF stages splice from _ivf_ann_oracle (deterministic
    per-label centroids, assignment, n_probe selection); the PQ
    stages are _pq_ann_oracle's Lloyd/encode/LUT/ADC run over the
    RESIDUAL table rv = v − centroid(assigned list) instead of raw
    vectors — with the Lloyd rounds UNROLLED ``n_rounds`` deep
    (emptied codes keep their previous-round slice via the per-round
    cbr{{t}} code-row CTE) — and the ADC score adds the per-list
    q·c_i constant, exactly mirroring ivf_pq_ann's
    q·x ≈ q·c_i + q·r̂ decomposition. Residuals are near-isotropic
    (the label-block structure is subtracted out), so one Lloyd round
    under-trains: measured recall@10 was 0.7/0.6 (sf0.01/0.1) at one
    round vs 0.9/0.7 at three — the round-3 codebook beats the old
    raw-vector encoding (0.9/0.6) at the same 8 bytes/vector. Same
    float discipline as both parents (elementwise residual
    subtraction is exact IEEE in both engines)."""
    sub = dim // m
    rng = f"range(1, {dim + 1})"

    def dot(a: str, b: str) -> str:
        return f"list_sum(list_transform({rng}, i -> {a}[i] * {b}[i]))"

    def cos(a: str, b: str) -> str:
        return f"{dot(a, b)} / (SQRT({dot(a, a)}) * SQRT({dot(b, b)}))"

    def enc_of(x: str) -> str:
        l2 = (
            f"list_sum(list_transform(range(1, {sub + 1}), j ->"
            f" ({x}[s * {sub} + j] - c[s * {sub} + j])"
            f" * ({x}[s * {sub} + j] - c[s * {sub} + j])))"
        )
        dists = f"list_transform(cbl, c -> {l2})"
        return (
            f"list_transform(range(0, {m}), s ->"
            f" list_position({dists}, list_min({dists})))"
        )

    qdot_sub = (
        f"list_sum(list_transform(range(1, {sub + 1}), j ->"
        f" qv[s * {sub} + j] * c[s * {sub} + j]))"
    )
    sql = [f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cd AS (
      SELECT label AS list_id, d.i AS i, AVG(v.v[d.i]) AS m
      FROM v CROSS JOIN (SELECT unnest({rng}) AS i) d
      GROUP BY 1, 2
    ),
    cents AS MATERIALIZED (
      SELECT list_id, list(m ORDER BY i) AS cv FROM cd GROUP BY list_id
    ),
    assigned AS MATERIALIZED (
      SELECT vec_id, v, list_id FROM (
        SELECT v.vec_id, v.v, c.list_id,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {cos("v.v", "c.cv")} DESC, c.list_id
               ) AS rn
        FROM v CROSS JOIN cents c
      ) t WHERE rn = 1
    ),
    resid AS MATERIALIZED (
      SELECT a.vec_id, a.list_id, a.v,
             list_transform({rng}, i -> a.v[i] - c.cv[i]) AS rv
      FROM assigned a JOIN cents c ON a.list_id = c.list_id
    ),
    q AS MATERIALIZED (SELECT v AS qv FROM v WHERE vec_id = 0),
    probes AS (
      SELECT c.list_id
      FROM cents c, q
      ORDER BY {cos("c.cv", "q.qv")} DESC, c.list_id DESC
      LIMIT {n_probe}
    ),
    cbr0 AS MATERIALIZED (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) AS INT) AS code,
             rv AS c
      FROM (SELECT * FROM resid ORDER BY vec_id LIMIT {n_codes})
    ),
    cb0 AS MATERIALIZED (SELECT list(c ORDER BY code) AS cbl FROM cbr0)"""]
    for t in range(1, n_rounds + 1):
        sql.append(f""",
    enc{t} AS MATERIALIZED (
      SELECT r.vec_id, r.rv AS rv, {enc_of("rv")} AS codes
      FROM resid r, cb{t - 1}
    ),
    upd{t} AS (
      SELECT s.s, e.codes[s.s + 1] AS code, d.j,
             AVG(e.rv[s.s * {sub} + d.j]) AS mv
      FROM enc{t} e
      CROSS JOIN (SELECT unnest(range(0, {m})) AS s) s
      CROSS JOIN (SELECT unnest(range(1, {sub + 1})) AS j) d
      GROUP BY 1, 2, 3
    ),
    usub{t} AS (
      SELECT s, code, list(mv ORDER BY j) AS sv FROM upd{t} GROUP BY s, code
    ),
    subs{t} AS (
      SELECT p.code, s.s,
             COALESCE(u.sv,
                      p.c[(s.s * {sub} + 1):(s.s * {sub} + {sub})]) AS sv
      FROM cbr{t - 1} p CROSS JOIN (SELECT unnest(range(0, {m})) AS s) s
      LEFT JOIN usub{t} u ON u.s = s.s AND u.code = p.code
    ),
    cbr{t} AS MATERIALIZED (
      SELECT code, flatten(list(sv ORDER BY s)) AS c
      FROM subs{t} GROUP BY code
    ),
    cb{t} AS MATERIALIZED (SELECT list(c ORDER BY code) AS cbl FROM cbr{t})""")
    sql.append(f""",
    lut AS MATERIALIZED (
      SELECT list_transform(range(0, {m}), s ->
               list_transform(cbl, c -> {qdot_sub})) AS lt
      FROM cb{n_rounds}, q
    ),
    qc AS MATERIALIZED (
      SELECT c.list_id, {dot("c.cv", "q.qv")} AS qcd FROM cents c, q
    ),
    e1 AS MATERIALIZED (
      SELECT a.vec_id, a.v, a.list_id, {enc_of("rv")} AS codes
      FROM (SELECT r.vec_id, r.v, r.rv, r.list_id FROM resid r
            JOIN probes p ON r.list_id = p.list_id
            WHERE r.vec_id <> 0) a, cb{n_rounds}
    ),
    adot AS (
      SELECT e.vec_id, e.v,
             ROUND(qc.qcd + list_sum(list_transform(range(0, {m}), s ->
                     lt[s + 1][codes[s + 1]])), 6) AS approx_dot
      FROM e1 e JOIN qc ON e.list_id = qc.list_id, lut
    ),
    cand AS (
      SELECT vec_id, v, approx_dot FROM adot
      ORDER BY approx_dot DESC, vec_id LIMIT {n_cand}
    )
    SELECT c.vec_id, c.approx_dot,
           ROUND({cos("c.v", "q.qv")}, 6) AS cos_sim
    FROM cand c, q
    ORDER BY cos_sim DESC, c.vec_id LIMIT {k}
    """)
    return "".join(sql)


@register(
    "q_ann_ivfpq",
    oracle=_ivfpq_oracle(),
    doc="IVF × PQ composed ANN — true FAISS IVFADC (Jégou et al. "
    "2011 §III; `IVFx,PQy`, THE production vector-store index at "
    "10⁹ vectors, SURVEY §2.9): the coarse quantizer prunes WHICH "
    "vectors are scanned (n_probe=6 posting lists), product "
    "quantization encodes the per-list RESIDUAL x−c(x) — not the "
    "raw vector — into 8-byte codes (32× vs float32; residual "
    "energy ≪ vector energy, so the same bytes quantize tighter "
    "and recall-per-byte improves), and scoring decomposes exactly "
    "as q·x ≈ q·c_i + q·r̂: one dot per probed LIST (an n_lists-row "
    "broadcast) plus the m-lookup ADC sum; exact cosine re-ranks "
    "the 50 best. Both stages deterministic (label centroids; "
    "one-round Lloyd codebooks over the whole corpus's residuals — "
    "the index is built offline, not per probe), so the composition "
    "carries an exact SQL oracle spliced from both parents; recall "
    "floor pytest-pinned vs exact top-k.",
)
def q_ann_ivfpq(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.similarity import ivf_pq_ann

    return ivf_pq_ann(table(spark, sf, "embeddings"), query_vec_id=0, k=10)


def _bpe_oracle(n_merges: int = 8, tail: str | None = None) -> str:
    """Full DuckDB oracle for BPE training: the merge rounds unrolled
    as materialized CTEs (the q_kmeans/q_kcore discipline — each
    round's w{i} has two consumers). The merge step is the SAME
    string-replace both engines run — the DOUBLED-separator
    representation (see operators/bpe.py): pattern
    sep||l||sep||sep||r||sep consumes only the inner half of each
    boundary, so one left-to-right non-overlapping pass IS greedy
    BPE even for adjacent pair repeats ('mama' → [ma, ma]); pair
    counts and symbol totals are exact integers; ties order
    (cnt DESC, l, r) on ASCII symbols — binary collation both
    engines."""
    sep = "chr(31)"
    sql = [f"""
    WITH w0 AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS f,
             regexp_replace(word, '(.)', {sep} || {sep} || '\\1', 'g')
               || {sep} || {sep} AS ws
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE regexp_matches(word, '^[a-z0-9]+$')
      GROUP BY word
    )"""]
    for i in range(1, n_merges + 1):
        sql.append(f""",
    p{i} AS (
      SELECT t.syms[g.j] AS l, t.syms[g.j + 1] AS r, SUM(t.f) AS cnt
      FROM (SELECT f,
                   list_filter(string_split(ws, {sep}), x -> x <> '') AS syms
            FROM w{i - 1}) t,
           UNNEST(generate_series(1, len(t.syms) - 1)) AS g(j)
      GROUP BY 1, 2
    ),
    b{i} AS MATERIALIZED (
      SELECT l, r, CAST(cnt AS BIGINT) AS cnt
      FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1
    ),
    w{i} AS MATERIALIZED (
      SELECT word, f,
             replace(ws, {sep} || b.l || {sep} || {sep} || b.r || {sep},
                     {sep} || b.l || b.r || {sep}) AS ws
      FROM w{i - 1}, b{i} b
    ),
    s{i} AS (
      SELECT CAST(SUM(f * len(list_filter(string_split(ws, {sep}),
                                           x -> x <> ''))) AS BIGINT) AS n
      FROM w{i}
    )""")
    if tail is not None:
        sql.append(tail.format(last=n_merges))
        return "".join(sql)
    parts = [
        f"""
    SELECT CAST({i} AS INT) AS round, b{i}.l AS merge_left,
           b{i}.r AS merge_right, b{i}.cnt AS pair_count,
           s{i}.n AS n_symbols_after
    FROM b{i}, s{i}"""
        for i in range(1, n_merges + 1)
    ]
    sql.append(" UNION ALL ".join(parts))
    return "".join(sql)


@register(
    "q_bpe_train",
    oracle=_bpe_oracle(),
    doc="BPE TOKENIZER TRAINING (Sennrich et al. 2016, SURVEY §2.9 — "
    "the tokenizer-side companion of q_vocab_coverage/q_token_count): "
    "8 merge rounds over the corpus word-frequency table, each round "
    "counting adjacent symbol pairs weighted by word frequency, "
    "picking the max (ties lexicographic), and merging greedily "
    "left-to-right — emitted as the merge table plus the post-merge "
    "corpus symbol count. The symbol sequence rides ONE delimited "
    "string, so the merge is a plain replace() whose non-overlapping "
    "scan IS the BPE merge rule, identical in both engines — the "
    "whole iterative loop is exact column algebra (oracle = rounds "
    "unrolled as materialized CTEs, the q_kmeans discipline). At "
    "100 TB every round runs over the |vocab|-sized frequency table "
    "(the corpus is scanned once); the driver receives one winning "
    "pair per round.",
)
def q_bpe_train(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.bpe import bpe_train

    return bpe_train(table(spark, sf, "documents"), n_merges=8)


_BPE_ENCODE_TAIL = """,
    enc AS (
      SELECT word,
             len(list_filter(string_split(ws, chr(31)), x -> x <> ''))
               AS n_syms
      FROM w{last}
    ),
    dw AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents
      ) WHERE regexp_matches(word, '^[a-z0-9]+$')
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n_syms) AS BIGINT) AS n_bpe_tokens,
           ROUND(CAST(SUM(e.n_syms) AS DOUBLE) / COUNT(*), 6)
             AS tokens_per_word
    FROM dw d JOIN enc e ON e.word = d.word
    GROUP BY d.doc_id
"""


@register(
    "q_bpe_encode",
    oracle=_bpe_oracle(tail=_BPE_ENCODE_TAIL),
    doc="BPE TOKENIZATION with the learned merges (SURVEY §2.9 — the "
    "application side of q_bpe_train, completing train→encode): the "
    "8-round merge table is trained, then every document is "
    "re-tokenized through the final vocabulary, reporting per-doc "
    "word count, BPE token count, and tokens-per-word (the "
    "fertility metric tokenizer evaluations report). Because BPE "
    "merges are word-internal, encoding reduces to joining the "
    "corpus words against the |vocab|-sized (word → symbol-count) "
    "table — one corpus scan + a broadcast join; no per-document "
    "merge replay. At 100 TB this is exactly how production "
    "tokenizer costing runs: train once on the frequency table, "
    "price the corpus with a vocab join. Oracle: the same unrolled "
    "merge CTEs as q_bpe_train with the encode join as the tail.",
)
def q_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.bpe import bpe_encode_stats

    return bpe_encode_stats(table(spark, sf, "documents"), n_merges=8)


@register(
    "q_decontaminate",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ), ev AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
    )
    SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
    FROM sh s JOIN ev USING (shingle)
    WHERE s.doc_id % 97 != 0
    GROUP BY s.doc_id
    """,
    doc="Benchmark decontamination (SURVEY §2.9 family): flag training "
    "docs sharing any 3-word shingle with the eval set (stand-in: "
    "doc_id %% 97 == 0). The eval shingle set is tiny by construction "
    "-> broadcast to every executor; the corpus side streams through "
    "map-side hash probes with no shuffle of shingle strings. "
    "array_distinct before explode keeps per-doc dedup shuffle-free.",
)
def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.functions.text import word_shingles

    d = table(spark, sf, "documents")
    # tokens materialized BEFORE the shingle HOF (no CSE inside lambdas)
    toks = d.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
    sh = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("w"), pre_tokenized=True))
        ).alias("shingle"),
    )
    eval_shingles = (
        sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(eval_shingles), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )


@register(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE CAST(concat('0x', substr(md5(doc_id::VARCHAR), 1, 2)) AS INTEGER)
          < CASE WHEN lang = 'en' THEN 64 ELSE 128 END
    """,
    doc="Stratified deterministic sampling: per-language keep rates "
    "(en 25%%, others 50%% - downsample the dominant stratum) via the "
    "md5-prefix predicate, so the sample is reproducible run-to-run "
    "and engine-portable (exact oracle). Pushdown-friendly scan "
    "filter - no shuffle, no rand() (SURVEY §2.9 sampling family).",
)
def q_sample_stratified(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    rate = F.when(F.col("lang") == "en", 64).otherwise(128)
    return d.select("doc_id", "lang").filter(bucket < rate)


def _kmeans_oracle(
    k: int = 8,
    n_iterations: int = 4,
    dim: int = 64,
    tail: str | None = None,
) -> str:
    """Full DuckDB oracle for fixed-iteration Lloyd's k-means: the
    rounds unrolled as chained CTEs (the same honest-unroll pattern as
    graph_queries._pagerank_oracle — driver-fed centroids per round are
    a loop, and a loop over a changing working set is what unrolled
    MATERIALIZED CTEs express; each a{i}/c{i} has two consumers, so
    default CTE inlining would blow the expansion up per round).

    Parity discipline: embeddings cast element-wise FLOAT→DOUBLE on
    both engines; init = the k lowest-vec_id vectors with cluster index
    = vec_id rank (matching _lloyd's orderBy+limit init); assignment
    ties break by cluster index (ROW_NUMBER ORDER BY d2, cluster ≙
    Spark's array_position-of-min = first minimal index); an emptied
    cluster keeps its previous centroid (COALESCE over the left join ≙
    _lloyd's by_cluster.get fallback); final round assigns without the
    discarded centroid update. Distances/means reassociate floats
    (~1e-15 relative) — invisible at the 6-dp output rounding; verified
    hash-exact vs the engine at sf0.001 and sf0.01."""
    rng = f"range(1, {dim + 1})"
    d2 = (
        f"list_sum(list_transform({rng}, "
        "i -> (v.v[i] - c.c[i]) * (v.v[i] - c.c[i])))"
    )
    sql = [f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    c0 AS MATERIALIZED (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, v AS c
      FROM (SELECT * FROM v ORDER BY vec_id LIMIT {k})
    )"""]
    for i in range(1, n_iterations + 1):
        sql.append(f""",
    a{i} AS MATERIALIZED (
      SELECT vec_id, v, cluster, d2 FROM (
        SELECT v.vec_id, v.v, c.cluster, {d2} AS d2,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id ORDER BY {d2}, c.cluster) AS rn
        FROM v CROSS JOIN c{i - 1} c
      ) WHERE rn = 1
    )""")
        if i < n_iterations:
            sql.append(f""",
    m{i} AS (
      SELECT a.cluster, d.i, AVG(a.v[d.i]) AS m
      FROM a{i} a CROSS JOIN (SELECT unnest({rng}) AS i) d
      GROUP BY a.cluster, d.i
    ),
    cm{i} AS (SELECT cluster, list(m ORDER BY i) AS c FROM m{i} GROUP BY cluster),
    c{i} AS MATERIALIZED (
      SELECT p.cluster, COALESCE(n.c, p.c) AS c
      FROM c{i - 1} p LEFT JOIN cm{i} n USING (cluster)
    )""")
    sql.append(
        tail
        if tail is not None
        else f"""
    SELECT vec_id, cluster, ROUND(SQRT(d2), 6) AS dist FROM a{n_iterations}"""
    )
    return "".join(sql)


@register(
    "q_kmeans",
    oracle=_kmeans_oracle(),
    doc="k-means (k=8, 4 Lloyd's rounds, deterministic lowest-id init) "
    "over the embeddings — the topic-balancing / corpus-coverage "
    "clusterer of a training-data pipeline (SURVEY §2.9, ext). Each "
    "round broadcasts the k x 64 centroid matrix (1-row crossJoin — "
    "round-invariant codegen) and collects k x dim new means "
    "(operators/clustering.py) — the corpus never leaves the executors, "
    "the same loop shape Spark MLlib KMeans uses. Full oracle: the "
    "Lloyd rounds unrolled as materialized DuckDB CTEs (_kmeans_oracle), "
    "dist rounded 6 dp on both sides; pytest additionally pins a numpy "
    "replica and monotone inertia (tests/test_properties.py).",
)
def q_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.clustering import kmeans

    return kmeans(table(spark, sf, "embeddings"), k=8, n_iterations=4)


@register(
    "q_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tok
      FROM documents
    ), c AS (
      SELECT lang, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tok AS start_off
      FROM t
    )
    SELECT lang, CAST(start_off // 2048 AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc_id
    FROM c GROUP BY 1, 2
    """,
    doc="Training-batch sequence packing (SURVEY §2.9, ext): documents "
    "are laid out contiguously in doc_id order within each lang shard "
    "and assigned to 2048-token bins by their start offset — the "
    "concat-then-chunk packing a pretraining pipeline runs before "
    "batching, with per-bin doc/token accounting. The running offset is "
    "a per-lang ordered window (PARTITION BY lang — the shard key; "
    "never a global sort), then one hash-agg on (lang, bin). All "
    "integer arithmetic → exact oracle.",
)
def q_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = table(spark, sf, "documents")
    t = d.select(
        "lang", "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    w = W.partitionBy("lang").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = t.select(
        "lang",
        "doc_id",
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("start_off"),
    )
    return (
        c.groupBy("lang", F.expr("start_off div 2048").alias("bin"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("doc_id").alias("first_doc_id"),
        )
    )


# ------------------------------------------------- dedup clustering / quality


# Shared near-dup cluster pipeline (q_dup_clusters + q_dedup_survivors):
# exact 3-shingle Jaccard >= 0.5 pairs -> undirected reachability
# closure. ONE definition on each engine so the two queries can never
# drift apart on what "a cluster" means.
_CLUSTERS_CTE = """
    WITH RECURSIVE tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
    ), edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(s, t) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a
    ), clusters AS (
      SELECT s AS doc_id, MIN(t) AS cluster_id FROM reach GROUP BY s
    )"""


def _doc_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """(doc_id, cluster_id) for every document — the Spark twin of
    ``_CLUSTERS_CTE``'s ``clusters`` table. Memoized: the CC iteration
    is the most expensive shared subtree (q_dup_clusters +
    q_dedup_survivors both consume it)."""
    return _memo(spark, sf, "clusters", lambda: _build_doc_clusters(spark, sf))


def _build_doc_clusters(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.connected_components import (
        connected_components,
    )

    d = table(spark, sf, "documents")
    return connected_components(
        d.select("doc_id"),
        _jaccard_pairs_05(spark, sf),
        node_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
    ).select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_id"))


@register(
    "q_dup_clusters",
    oracle=_CLUSTERS_CTE + """
    SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id FROM clusters
    """,
    doc="Near-duplicate CLUSTERS (SURVEY §2.9 + operators/"
    "connected_components.py): pair output alone is not a dedup policy "
    "— production keeps one survivor per connected component of the "
    "near-dup graph. Edges = exact 3-shingle Jaccard >= 0.5 pairs "
    "(same pair set as q_dedup_near); components via iterative "
    "min-label propagation, one shuffle per round, lineage truncated "
    "per round, converging in <= diameter rounds. Oracle: DuckDB "
    "recursive-CTE reachability closure + MIN per node — exact, so "
    "this iterative algorithm still gets a full value-hash check "
    "(singletons are their own cluster).",
)
def q_dup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    return _doc_clusters(spark, sf)


@register(
    "q_dedup_survivors",
    oracle=_CLUSTERS_CTE + """
    , members AS (
      SELECT c.cluster_id, len(string_split(d.text, ' ')) AS n_tok
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    ), grouped AS (
      SELECT cluster_id, COUNT(*) AS n_members, SUM(n_tok) AS n_tokens
      FROM members GROUP BY cluster_id
    )
    SELECT CAST(g.cluster_id AS BIGINT) AS keep_doc_id,
           CAST(g.n_members AS BIGINT) AS n_members,
           CAST(g.n_tokens AS BIGINT) AS n_tokens,
           d.lang AS lang
    FROM grouped g JOIN documents d ON d.doc_id = g.cluster_id
    """,
    doc="The deduped corpus a curation pipeline actually ships "
    "(SURVEY §2.9): one survivor (min doc_id) per near-dup cluster of "
    "q_dup_clusters, with member count, the cluster's total token mass "
    "(what dedup removed vs kept), and the survivor's lang. The "
    "survivor-attribute join keys on cluster_id = doc_id — at scale the "
    "cluster table is (long, long) and the join shuffles ids, never "
    "text. Exact oracle via the same recursive-CTE closure.",
)
def q_dedup_survivors(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    clusters = _doc_clusters(spark, sf)
    n_tok = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    grouped = (
        clusters.join(n_tok, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    return grouped.join(
        d.select(F.col("doc_id").alias("cluster_id"), "lang"), "cluster_id"
    ).select(
        F.col("cluster_id").alias("keep_doc_id"), "n_members", "n_tokens", "lang"
    )


@register(
    "q_repetition_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ), cnt AS (
      SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS uniq_ratio,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_token_frac
    FROM cnt GROUP BY doc_id
    """,
    doc="Repetition quality signals (Gopher-rule family — Rae et al. "
    "2021, 'Scaling Language Models', App. A: repetitious documents are "
    "low-quality): per-doc distinct-token ratio and most-frequent-token "
    "mass. One explode + two hash aggs keyed by doc_id — fully "
    "map-side-combinable, no wide row (SURVEY §2.9 quality family).",
)
def q_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    cnt = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("doc_id", "w")
        .count()
    )
    return cnt.groupBy("doc_id").agg(
        F.sum("count").cast("bigint").alias("n_tokens"),
        F.round(F.count("*") / F.sum("count"), 6).alias("uniq_ratio"),
        F.round(F.max("count") / F.sum("count"), 6).alias("top_token_frac"),
    )


@register(
    "q_redact",
    oracle="""
    SELECT doc_id,
           regexp_replace(text, '\\b(customer|key|order)\\b', '<REDACTED>', 'g')
             AS redacted_text,
           CAST(len(regexp_extract_all(text, '\\b(customer|key|order)\\b'))
             AS BIGINT) AS n_redacted
    FROM documents
    """,
    doc="Term redaction — the PII-scrub plumbing (SURVEY §2.9): mask a "
    "sensitive-term lexicon via one pass of regexp_replace at the scan "
    "(the corpus has no digits, so the lexicon stands in for "
    "email/phone/ID patterns; the operator shape — anchored alternation "
    "regex, global replace, per-doc hit count — is exactly a PII pass). "
    "Row-parallel, zero shuffle; at 100 TB this runs at scan speed. "
    "\\b and alternation behave identically in Java regex and RE2.",
)
def q_redact(spark: SparkSession, sf: str) -> DataFrame:
    pat = r"\b(customer|key|order)\b"
    d = table(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace("text", pat, "<REDACTED>").alias("redacted_text"),
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))
        .cast("bigint")
        .alias("n_redacted"),
    )


@register(
    "q_dedup_incremental",
    oracle="""
    WITH corpus AS (
      SELECT md5(lower(trim(text))) AS h
      FROM documents WHERE doc_id % 10 < 8
    ),
    batch AS (
      SELECT doc_id, lang, md5(lower(trim(text))) AS h
      FROM documents WHERE doc_id % 10 >= 8
    )
    SELECT b.doc_id, b.lang
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
    """,
    doc="Incremental-batch dedup (SURVEY §2.9, ext — the ingest-time "
    "sibling of q_dedup_exact and q_snapshot_diff): a new batch is "
    "admitted only where its normalized content hash is absent from "
    "the existing corpus — an anti-join on the hash, never on the "
    "text. At 100 TB the corpus side is a bucketed hash manifest "
    "(16-byte rows, not documents), the batch side is one scan, and "
    "the anti-join shuffles hashes only; here both sides are "
    "deterministic doc_id-window views of documents so the oracle is "
    "exact. NOT EXISTS ≡ left-anti (md5 never null).",
)
def q_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    h = F.md5(F.lower(F.trim(F.col("text"))))
    corpus = d.filter(F.col("doc_id") % 10 < 8).select(h.alias("h"))
    batch = d.filter(F.col("doc_id") % 10 >= 8).select(
        "doc_id", "lang", h.alias("h")
    )
    return batch.join(corpus, "h", "left_anti").select("doc_id", "lang")


# Shared CDC-chunk derivation SQL (exact in both engines: boundaries
# come from md5 of a fixed 8-char window — identical hex on the ASCII
# corpus, pinned by test_documents_corpus_is_ascii — and the chunk
# re-slice is plain substring arithmetic; the 1/64 boundary rule reads
# hex digits of the window hash: first digit '0' (1/16) AND second in
# {'0','4','8','c'} (4/16)). Used by q_chunk_cdc verbatim and by
# q_dedup_chunk_cross as a subquery.
_CDC_CHUNKS_SQL = """
    WITH d AS (
      SELECT doc_id, text, strlen(text) AS len FROM documents
    ),
    b AS (  -- content-defined boundaries at window positions 2..len-7
      SELECT d.doc_id, CAST(r.p AS INT) AS p
      FROM d, LATERAL (SELECT unnest(range(2, greatest(2, len - 6)))) r(p)
      WHERE substr(md5(substr(text, CAST(r.p AS INT), 8)), 1, 1) = '0'
        AND substr(md5(substr(text, CAST(r.p AS INT), 8)), 2, 1)
            IN ('0', '4', '8', 'c')
    ),
    starts AS (
      SELECT d.doc_id, d.text, d.len,
             list_prepend(1, COALESCE(list_sort(list(b.p)), [])) AS ss
      FROM d LEFT JOIN b USING (doc_id)
      GROUP BY 1, 2, 3
    ),
    chunks AS (
      SELECT doc_id, len, text,
             CAST(g.i AS BIGINT) - 1 AS chunk_idx,
             CAST(ss[CAST(g.i AS INT)] AS INT) AS s,
             CAST(COALESCE(ss[CAST(g.i + 1 AS INT)], len + 1)
                  - ss[CAST(g.i AS INT)] AS INT) AS chunk_len
      FROM starts, LATERAL (SELECT unnest(range(1, len(ss) + 1))) g(i)
    )
    SELECT doc_id, chunk_idx, s AS chunk_start, chunk_len,
           md5(substr(text, s, chunk_len)) AS chunk_md5
    FROM chunks WHERE chunk_len > 0
"""


@register(
    "q_chunk_cdc",
    oracle=_CDC_CHUNKS_SQL,
    doc="Content-defined chunking (CDC — the sub-document dedup "
    "primitive for long-document corpora; SURVEY §2.9 ext): a chunk "
    "boundary lands wherever the hash of the local 8-char window "
    "satisfies a 1/64 test, so insertions shift boundaries only "
    "LOCALLY (unlike q_chunk_docs' fixed stride, where one added "
    "token re-keys every downstream chunk) and unchanged regions keep "
    "their chunk hashes — dedupable across document revisions. "
    "Pipeline: one explode over window positions (O(total bytes) "
    "rows, scan-shaped and embarrassingly parallel — the same cost "
    "class as tokenization), boundary filter, per-doc sorted "
    "boundary list (bounded: ~len/64 entries), posexplode back to "
    "chunk spans, and a substring re-slice. Everything is column "
    "arithmetic on md5 hex — no Python in the path — and at 100 TB "
    "the stage is a narrow map + one doc-keyed hash-agg: no join, no "
    "skew-prone key. A rolling gear hash (true CDC) would replace "
    "the windowed md5 in a pandas-UDF variant; the windowed form is "
    "used here because it is exactly SQL-portable, boundary "
    "semantics identical. Measured alternative, REJECTED: folding the "
    "boundary scan into filter(sequence(...), p -> md5-test) "
    "higher-order expressions (no explode/groupBy/join at all) ran "
    "3.88s vs 2.18s median-of-5 at sf0.1 — HOF lambdas evaluate "
    "outside whole-stage codegen, losing more than the avoided "
    "(tiny, doc-keyed) shuffle saved.",
)
def q_chunk_cdc(spark: SparkSession, sf: str) -> DataFrame:
    return _cdc_chunks(spark, sf)


def _cdc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents").select(
        "doc_id", "text", F.length("text").alias("len")
    )
    # r17 optimization (guide §2.2/§6 — split-size vs compute): the
    # documents parquet is ONE scan split at bench SFs (file ≪
    # maxPartitionBytes), so the O(total-bytes) boundary-window md5
    # sweep below ran on a single core (measured: executorCpuTime ≈
    # wall ≈ 2.3 s with 31 cores idle). spread_scan hash-repartitions
    # by doc_id (unique → uniform; explicit width so AQE does not
    # coalesce the tiny shuffle back to one task) ONLY when the scan
    # is narrower than the core budget — at production split counts
    # it is a no-op and no exchange is added. Every downstream value
    # is per-doc deterministic (sorted boundary list, per-row chunk
    # arithmetic), so placement cannot move results; the doc_id
    # keying doubles as the boundary groupBy's distribution.
    d = spread_scan(d, "doc_id")
    # Guard: F.sequence generates DESCENDING when stop < start, so a
    # sub-9-char doc must yield an empty candidate set (as the oracle's
    # range() does), not positions [2, 1].
    candidates = F.when(
        F.col("len") >= 9, F.sequence(F.lit(2), F.col("len") - 7)
    ).otherwise(F.array().cast("array<int>"))
    boundaries = (
        d.select(
            "doc_id",
            F.explode(candidates).alias("p"),
            F.col("text"),
        )
        .withColumn("h", F.md5(F.expr("substring(text, p, 8)")))
        .filter(
            (F.substring("h", 1, 1) == "0")
            & F.substring("h", 2, 1).isin("0", "4", "8", "c")
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("p")).alias("bs"))
    )
    starts = d.join(boundaries, "doc_id", "left").select(
        "doc_id",
        "text",
        "len",
        F.concat(
            F.array(F.lit(1)), F.coalesce(F.col("bs"), F.array())
        ).alias("ss"),
    )
    chunks = starts.select(
        "doc_id",
        "text",
        "len",
        "ss",
        F.posexplode("ss").alias("chunk_idx", "s"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("s").cast("int").alias("chunk_start"),
        (
            # try_element_at: the LAST chunk's "next start" is past the
            # boundary list (ANSI element_at would throw) -> len + 1
            F.coalesce(
                F.try_element_at("ss", F.col("chunk_idx").cast("int") + 2),
                F.col("len") + 1,
            )
            - F.col("s")
        )
        .cast("int")
        .alias("chunk_len"),
        "text",
    )
    return chunks.filter(F.col("chunk_len") > 0).select(
        "doc_id",
        "chunk_idx",
        "chunk_start",
        "chunk_len",
        F.md5(F.expr("substring(text, chunk_start, chunk_len)")).alias(
            "chunk_md5"
        ),
    )


@register(
    "q_dedup_chunk_cross",
    # Non-vacuity checked at sf0.01: the corpus carries a 29-copy chunk
    # spanning 27 documents, so the duplicate set is real, not empty.
    oracle=f"""
    SELECT chunk_md5,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM ({_CDC_CHUNKS_SQL}) c
    GROUP BY 1 HAVING COUNT(*) > 1
    """,
    doc="Cross-document duplicate CDC chunks (SURVEY §2.9 ext — the "
    "payoff query for q_chunk_cdc): group the content-defined chunk "
    "hashes corpus-wide and keep hashes appearing more than once, with "
    "copy and distinct-document counts. This is sub-document "
    "deduplication — boilerplate headers/footers and quoted passages "
    "that whole-document dedup (exact or MinHash) cannot see. At "
    "100 TB: chunks are 16-byte hashes, the shuffle key is the hash "
    "itself (uniform by construction, no skew), and the aggregation "
    "is map-side-combinable — the same scale shape as q_dedup_exact, "
    "at chunk granularity.",
)
def q_dedup_chunk_cross(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _cdc_chunks(spark, sf)
        .groupBy("chunk_md5")
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_copies") > 1)
    )


_SEMANTIC_DEDUP_TAIL = """
    , assign AS (SELECT vec_id, cluster FROM a4),
    cl AS (SELECT s.vec_id, s.cluster, v.v FROM assign s JOIN v USING (vec_id)),
    sd_pairs AS (
      SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
             ROUND(list_cosine_similarity(x.v, y.v), 6) AS cs
      FROM cl x JOIN cl y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    ),
    sd_dups AS (
      SELECT vec_b AS vec_id, MIN(vec_a) AS dup_of
      FROM sd_pairs WHERE cs >= 0.32 GROUP BY 1
    )
    SELECT a.vec_id, a.cluster, d.dup_of, d.dup_of IS NULL AS keep
    FROM assign a LEFT JOIN sd_dups d USING (vec_id)
"""


@register(
    "q_semantic_dedup",
    oracle=_kmeans_oracle(tail=_SEMANTIC_DEDUP_TAIL),
    doc="SemDeDup-style semantic deduplication (Abbas et al. 2023, "
    "SURVEY §2.9 ext): k-means clusters the embedding space (k=8, 4 "
    "deterministic Lloyd rounds — the q_kmeans operator), then "
    "near-duplicate pairs are searched ONLY within each cluster "
    "(cosine >= 0.32 on the 6-dp-rounded similarity); a vector is a "
    "dup if a lower-id cluster-mate clears the threshold (dup_of = "
    "that mate's min id, keep = no such mate). This is the published "
    "scale path for embedding-level dedup: clustering shrinks the "
    "pairwise candidate space from O(n^2) to O(sum n_c^2) ~ O(n^2/k) "
    "with data-dependent blocks, vs the label-blocked exact tier "
    "(q_dedup_embedding) whose blocks are fixed metadata. Within-"
    "cluster pairs ride the numpy gram-matrix batch (the sanctioned "
    "group-linear-algebra crossing, operators/similarity.py); at 100 "
    "TB, k grows with the corpus so cluster blocks stay bounded and "
    "the gram tiles fit worker memory (SCALE.md). Oracle: the Lloyd "
    "rounds unrolled as materialized CTEs (_kmeans_oracle) + the "
    "pairwise tail in plain SQL.",
)
def q_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.clustering import kmeans
    from gps_stream_processing_spark.operators.similarity import (
        pairwise_cosine_np,
    )

    emb = table(spark, sf, "embeddings")
    assign = kmeans(emb, k=8, n_iterations=4).select("vec_id", "cluster")
    clustered = emb.join(assign, "vec_id").select(
        "vec_id", "embedding", "cluster"
    )
    pairs = pairwise_cosine_np(clustered, label_col="cluster").filter(
        F.col("cos_sim") >= 0.32
    )
    dups = (
        pairs.groupBy("vec_b")
        .agg(F.min("vec_a").alias("dup_of"))
        .withColumnRenamed("vec_b", "vec_id")
    )
    return assign.join(dups, "vec_id", "left").select(
        "vec_id", "cluster", "dup_of", F.col("dup_of").isNull().alias("keep")
    )


@register(
    "q_dedup_containment",
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(n_inter AS DOUBLE) / sa.n, 6) AS cont_a_in_b,
           ROUND(CAST(n_inter AS DOUBLE) / sb.n, 6) AS cont_b_in_a
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE greatest(CAST(n_inter AS DOUBLE) / sa.n,
                   CAST(n_inter AS DOUBLE) / sb.n) >= 0.9
    """,
    doc="Asymmetric containment near-dup pairs (SURVEY §2.9 ext): "
    "C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| >= 0.9 in "
    "either direction — catches the sub-document duplicates "
    "(boilerplate wrapping, quote-expansion, doc-inside-doc pastes) "
    "that symmetric Jaccard misses because the union term drowns the "
    "short side. Shares the checkpointed distinct-shingle table with "
    "the Jaccard/MinHash family (one derivation, four consumers) and "
    "the same co-shingle equi-join scale path — never all-pairs; at "
    "100 TB the identical LSH-candidate restriction applies "
    "(operators/dedup.py containment_pairs). Oracle: the same "
    "intersect/size arithmetic in plain SQL.",
)
def q_dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.dedup import containment_pairs

    return containment_pairs(_shingles(spark, sf), threshold=0.9)


def _unigram_oracle(
    n_rounds: int = 2,
    encode_tail: bool = False,
    greedy_tail: bool = False,
) -> str:
    """Full DuckDB oracle for the unigram-LM tokenizer trainer
    (operators/unigram.py): seed counts, then each hard-EM round's
    Viterbi pass UNROLLED — per-position DP levels b{r}_{i} (8 of
    them, pieces capped at 4 chars) and the 8-step back-pointer walk
    — as materialized CTEs (the _bpe_oracle/q_kmeans discipline).
    The DP recurrence, its ln arguments, and the candidate addition
    order are IDENTICAL to the Spark column algebra, so the float
    scores and every argmax tie-break agree bit-for-bit; all counts
    are exact BIGINTs. ``encode_tail`` appends one more Viterbi pass
    under the final vocabulary plus the per-doc fertility join."""
    W, P, K = 8, 4, 200
    sql = [f"""
    WITH w AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS word
        FROM documents
      ) WHERE regexp_matches(word, '^[a-z0-9]{{1,{W}}}$')
      GROUP BY word
    ),
    subs AS MATERIALIZED (
      SELECT substr(w.word, i.i, l.l) AS s, CAST(SUM(w.f) AS BIGINT) AS c
      FROM w,
           UNNEST(generate_series(1, len(w.word))) AS i(i),
           UNNEST(generate_series(1, {P})) AS l(l)
      WHERE i.i + l.l - 1 <= len(w.word)
      GROUP BY 1
    ),
    v0 AS MATERIALIZED (
      SELECT s, c FROM subs WHERE len(s) = 1
      UNION ALL
      SELECT s, c FROM (
        SELECT s, c FROM subs WHERE len(s) > 1
        ORDER BY c DESC, s LIMIT {K})
    )"""]
    n_passes = n_rounds + (1 if encode_tail else 0)
    for r in range(n_passes):
        sql.append(f""",
    t{r} AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM v{r}),
    cp{r} AS MATERIALIZED (
      SELECT w.word, i.i + l.l - 1 AS e, l.l AS l,
             ln(CAST(v.c AS DOUBLE) / t.tt) AS lnp
      FROM w,
           UNNEST(generate_series(1, len(w.word))) AS i(i),
           UNNEST(generate_series(1, {P})) AS l(l), v{r} v, t{r} t
      WHERE i.i + l.l - 1 <= len(w.word)
        AND v.s = substr(w.word, i.i, l.l)
    ),
    cv{r} AS MATERIALIZED (
      SELECT word, e,
             {", ".join(f"MAX(CASE WHEN l = {x} THEN lnp END) AS l{x}"
                        for x in range(1, P + 1))}
      FROM cp{r} GROUP BY word, e
    )""")
        for i in range(1, W + 1):
            joins = [f"LEFT JOIN cv{r} cv ON cv.word = w.word AND cv.e = {i}"]
            cands = []  # (j, sql_expr) ascending j
            for j in range(max(0, i - P), i):
                piece_len = i - j
                if j == 0:
                    prev = "0.0"
                else:
                    joins.append(
                        f"LEFT JOIN b{r}_{j} p{j} ON p{j}.word = w.word"
                    )
                    prev = f"p{j}.s"
                cands.append(
                    (j, f"COALESCE({prev} + cv.l{piece_len}, -1e18)")
                )
            best = (
                cands[0][1]
                if len(cands) == 1
                else "GREATEST(" + ", ".join(c for _, c in cands) + ")"
            )
            jcase = (
                "CASE "
                + " ".join(
                    f"WHEN {c} = {best} THEN {j}" for j, c in cands
                )
                + " END"
            )
            sql.append(f""",
    b{r}_{i} AS MATERIALIZED (
      SELECT w.word, {best} AS s, {jcase} AS j
      FROM w {" ".join(joins)}
    )""")
        jall = " UNION ALL ".join(
            f"SELECT word, {i} AS i, j FROM b{r}_{i}"
            for i in range(1, W + 1)
        )
        sql.append(f""",
    jall{r} AS MATERIALIZED ({jall}),
    k{r}_0 AS (SELECT word, len(word) AS p FROM w)""")
        for t in range(1, W + 1):
            sql.append(f""",
    k{r}_{t} AS MATERIALIZED (
      SELECT k.word, j.j AS p, substr(k.word, j.j + 1, k.p - j.j) AS piece
      FROM k{r}_{t - 1} k JOIN jall{r} j ON j.word = k.word AND j.i = k.p
      WHERE k.p > 0
    )""")
        pieces = " UNION ALL ".join(
            f"SELECT word, piece FROM k{r}_{t}" for t in range(1, W + 1)
        )
        sql.append(f""",
    pieces{r} AS MATERIALIZED ({pieces})""")
        if r < n_rounds:  # M-step (the encode pass keeps the vocab fixed)
            sql.append(f""",
    nc{r} AS (
      SELECT p.piece AS s, CAST(SUM(w.f) AS BIGINT) AS c
      FROM pieces{r} p JOIN w ON w.word = p.word GROUP BY 1
    ),
    v{r + 1} AS MATERIALIZED (
      SELECT v.s,
             CAST(CASE WHEN len(v.s) = 1
                  THEN GREATEST(COALESCE(n.c, 0), 1)
                  ELSE n.c END AS BIGINT) AS c
      FROM v{r} v LEFT JOIN nc{r} n ON n.s = v.s
      WHERE len(v.s) = 1 OR COALESCE(n.c, 0) > 0
    )""")
    if greedy_tail:
        # WordPiece/MaxMatch inference under the final vocabulary:
        # per-(word, position) LONGEST matching piece (single-char
        # coverage guarantees a match at every position), then the
        # cursor walk unrolled W steps — all exact integers, the same
        # algebra as operators/unigram.py::wordpiece_encode_stats.
        sql.append(f""",
    gm AS MATERIALIZED (
      SELECT w.word, i.i AS p, CAST(MAX(l.l) AS INTEGER) AS step
      FROM w,
           UNNEST(generate_series(1, len(w.word))) AS i(i),
           UNNEST(generate_series(1, {P})) AS l(l), v{n_rounds} v
      WHERE i.i + l.l - 1 <= len(w.word)
        AND v.s = substr(w.word, i.i, l.l)
      GROUP BY 1, 2
    ),
    g0 AS (SELECT word, len(word) AS len, 1 AS p, 0 AS k FROM w)""")
        for t in range(1, W + 1):
            sql.append(f""",
    g{t} AS MATERIALIZED (
      SELECT g.word, g.len,
             CASE WHEN g.p <= g.len THEN g.p + m.step ELSE g.p END AS p,
             g.k + CASE WHEN g.p <= g.len THEN 1 ELSE 0 END AS k
      FROM g{t - 1} g
      LEFT JOIN gm m ON m.word = g.word AND m.p = g.p
    )""")
        sql.append(f"""
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(g.k) AS BIGINT) AS n_wp_tokens,
           ROUND(CAST(SUM(g.k) AS DOUBLE) / COUNT(*), 6)
             AS tokens_per_word
    FROM (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents
      ) WHERE regexp_matches(word, '^[a-z0-9]{{1,{W}}}$')
    ) d
    JOIN g{W} g ON g.word = d.word
    GROUP BY 1
    """)
        return "".join(sql)
    if encode_tail:
        sql.append(f"""
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(k.k) AS BIGINT) AS n_unigram_tokens,
           ROUND(CAST(SUM(k.k) AS DOUBLE) / COUNT(*), 6)
             AS tokens_per_word
    FROM (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents
      ) WHERE regexp_matches(word, '^[a-z0-9]{{1,{W}}}$')
    ) d
    JOIN (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS k
      FROM pieces{n_rounds} GROUP BY word
    ) k ON k.word = d.word
    GROUP BY 1
    """)
    else:
        sql.append(f"""
    SELECT s AS piece, c AS cnt,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM v{n_rounds}) AS vocab_size
    FROM v{n_rounds} ORDER BY c DESC, s LIMIT 30
    """)
    return "".join(sql)


@register(
    "q_unigram_train",
    oracle=_unigram_oracle(2),
    doc="UNIGRAM-LM (SentencePiece-style) tokenizer TRAINING (Kudo "
    "2018; SURVEY §2.9 — the probabilistic sibling of q_bpe_train): "
    "substring seed vocabulary (top-200 multi-char by exact count + "
    "all single chars), then 2 hard-EM rounds — Viterbi segmentation "
    "of every distinct word under p(s)=count/total, exact integer "
    "usage-count M-steps, single-char coverage floor. The Viterbi DP "
    "is UNROLLED column algebra (words capped 8 chars, pieces 4) "
    "identical in Spark and the oracle, so argmax tie-breaks agree "
    "bit-for-bit; ties prefer the longest last piece "
    "(operators/unigram.py). Emits the top-30 final vocabulary with "
    "exact counts. At 100 TB every round runs over the |distinct "
    "words| table — the corpus is scanned once.",
)
def q_unigram_train(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.unigram import unigram_train

    docs = table(spark, sf, "documents")
    return unigram_train(
        docs, n_rounds=2, vocab=_landed_unigram_vocab(spark, sf, docs)
    )


def _landed_unigram_vocab(spark, sf, docs, n_rounds: int = 2):
    """The trained unigram vocabulary (s, c) landed once per corpus
    fingerprint — train once, encode many (the production tokenizer
    split, and the q_triangle_count _DEGREE_STATS amortization
    applied to a model artifact). The table is deterministic exact
    integers, so the landed copy is lossless; a regenerated corpus
    re-lands via the fingerprint."""
    import glob as _glob
    import os

    from gps_stream_processing_spark.operators.unigram import (
        MAX_PIECE,
        MAX_WORD,
        SEED_TOP_K,
        train_vocab,
    )
    from gps_stream_processing_spark.workdir import land_dir

    st = os.stat(os.path.join(sf, "documents.parquet"))
    fp = (
        f"documents:{st.st_size}:{st.st_mtime_ns};"
        f"w{MAX_WORD}p{MAX_PIECE}k{SEED_TOP_K}r{n_rounds}"
    )
    out = os.path.join(land_dir("unigram", sf), f"vocab_r{n_rounds}")
    fp_file = os.path.join(out, "_SOURCE_FINGERPRINT")
    try:
        fp_disk, n_files = open(fp_file).read().split("\n")
        staged = fp_disk == fp and (
            len(_glob.glob(os.path.join(out, "part-*"))) == int(n_files)
        )
    except (OSError, ValueError):
        staged = False
    if not staged:
        train_vocab(docs, n_rounds).coalesce(1).write.mode(
            "overwrite"
        ).parquet(out)
        n = len(_glob.glob(os.path.join(out, "part-*")))
        tmp = fp_file + ".tmp"
        with open(tmp, "w") as f:  # atomic: no partial fingerprint
            f.write(f"{fp}\n{n}")
        os.replace(tmp, fp_file)
    return spark.read.parquet(out)


@register(
    "q_unigram_encode",
    oracle=_unigram_oracle(2, encode_tail=True),
    doc="UNIGRAM-LM TOKENIZATION with the trained model (SURVEY §2.9 "
    "— the application side of q_unigram_train, completing "
    "train→encode like the BPE pair): one more Viterbi pass under "
    "the final vocabulary segments every distinct word; per-doc "
    "word count, unigram token count, and tokens-per-word (the "
    "fertility metric) come from joining the corpus words against "
    "the |vocab|-sized (word → piece-count) table — one corpus scan "
    "+ a broadcast join, no per-document DP. Oracle: the same "
    "unrolled EM + encode-pass CTEs with the fertility join as the "
    "tail.",
)
def q_unigram_encode(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.unigram import (
        unigram_encode_stats,
    )

    docs = table(spark, sf, "documents")
    return unigram_encode_stats(
        docs, n_rounds=2, vocab=_landed_unigram_vocab(spark, sf, docs)
    )


@register(
    "q_wordpiece_encode",
    oracle=_unigram_oracle(2, greedy_tail=True),
    doc="WORDPIECE-style GREEDY tokenization (MaxMatch — the "
    "longest-match-first inference rule of WordPiece/BERT, Song et "
    "al. 2021; SURVEY §2.9 — the third tokenizer inference rule "
    "beside BPE merge-replay and unigram Viterbi, under the SAME "
    "trained unigram vocabulary so the fertility of greedy vs "
    "optimal segmentation is directly comparable: greedy token "
    "count >= Viterbi's by construction). One vocab join builds a "
    "per-word (position -> longest match) map — the single-char "
    "coverage floor guarantees progress — and the cursor walk is "
    "unrolled exact-integer column algebra, identical in the DuckDB "
    "oracle (no floats anywhere). Per-doc fertility via the same "
    "size-gated word-count broadcast join as q_unigram_encode; the "
    "corpus is scanned once and the walk runs on the |distinct "
    "words| table.",
)
def q_wordpiece_encode(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.unigram import (
        wordpiece_encode_stats,
    )

    docs = table(spark, sf, "documents")
    return wordpiece_encode_stats(
        docs, n_rounds=2, vocab=_landed_unigram_vocab(spark, sf, docs)
    )
