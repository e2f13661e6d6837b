"""Corpus-analytics and data-layout operators (SURVEY §2.9b).

Engine surface (`ext`) — the reference (class.nmea.parser.php:1-399) has
no text or layout code; these extend the LLM-data-pipeline family with
three operators a 100 TB training-data store needs:

- PMI bigram collocations (`q_pmi_bigrams`): corpus-level association
  mining — the co-occurrence statistics behind phrase detection and
  tokenizer vocabulary induction.
- Inverted index (`q_inverted_index`): token -> document-frequency +
  capped, sorted posting list — the retrieval-side structure for
  decontamination lookups and BM25 serving.
- Z-order layout (`q_zorder_layout`): Morton-interleaved multi-column
  clustering key + per-bucket bounding-box stats — the data-layout
  operator behind multi-dimensional file skipping (the OPTIMIZE
  ZORDER pattern): tight per-file min/max envelopes on BOTH columns
  are what let a scan prune files on either predicate.
- Fuzzy entity-resolution join (`q_fuzzy_join`): blocked edit-distance
  best-match with the quadratic evaluated on distinct values only
  (canopy) — record linkage for duplicate-heavy catalog columns.

Parity discipline: tokenizer is the proven `split(lower(text), ' ')` ↔
`string_split(lower(text), ' ')` pair used by the tf-idf/BM25 family;
PMI keeps the exact same double expression structure on both engines
before a ROUND(…, 6); the z-order bit interleave is pure integer
arithmetic (exact on any engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from gps_stream_processing_spark.plans.registry import register, table


@register(
    "q_pmi_bigrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    uni AS (
      SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1
    ),
    bi AS (
      SELECT b AS bigram, CAST(COUNT(*) AS BIGINT) AS cb
      FROM (
        SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS b
        FROM toks
      ) GROUP BY 1
    ),
    n AS (
      SELECT (SELECT SUM(c) FROM uni) AS nu, (SELECT SUM(cb) FROM bi) AS nb
    )
    SELECT bi.bigram, bi.cb, u1.c AS c1, u2.c AS c2,
           ROUND(LN((bi.cb * 1.0 / n.nb)
                    / ((u1.c * 1.0 / n.nu) * (u2.c * 1.0 / n.nu))), 6) AS pmi
    FROM bi
    JOIN uni u1 ON u1.word = string_split(bi.bigram, ' ')[1]
    JOIN uni u2 ON u2.word = string_split(bi.bigram, ' ')[2]
    CROSS JOIN n
    WHERE bi.cb >= 5
    """,
    doc="Pointwise mutual information of adjacent word pairs over the "
    "documents corpus: PMI = ln(p(xy) / (p(x)p(y))), support floor "
    "cb >= 5. Plan shape: one explode->hash-agg per n-gram order "
    "(map-side combined), then the bigram counts join the unigram "
    "table twice (broadcast — vocabulary is small relative to the "
    "corpus) and a broadcast 1-row (nu, nb) totals aggregate. The "
    "double expression is structured identically on both engines "
    "before ROUND(6), the ln-parity pattern q_tfidf established. At "
    "100 TB the bigram agg is the only wide shuffle and its key space "
    "is vocab^2-bounded; counts, not text, shuffle.",
)
def q_pmi_bigrams(spark: SparkSession, sf: str) -> DataFrame:
    return pmi_bigrams(table(spark, sf, "documents"))


def pmi_bigrams(d: DataFrame, min_count: int = 5) -> DataFrame:
    """PMI pipeline over any (doc_id, text) frame, so replicated
    corpora run the shipped plan code as is."""
    toks = d.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
    )
    # uni feeds THREE consumers (u1, u2, the nu total) and bi feeds two
    # (the filter and the nb total): materialize each vocab-sized count
    # table once instead of re-scanning the corpus per consumer.
    uni = (
        toks.select(F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    bigrams = toks.select(
        F.explode(
            F.expr(
                "zip_with(slice(w, 1, greatest(size(w) - 1, 0)),"
                "         slice(w, 2, greatest(size(w) - 1, 0)),"
                "         (x, y) -> concat(x, ' ', y))"
            )
        ).alias("bigram")
    )
    bi = (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("cb"))
        .localCheckpoint(eager=True)
    )
    n = uni.agg(F.sum("c").alias("nu")).crossJoin(
        bi.agg(F.sum("cb").alias("nb"))
    )
    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("cb") * 1.0 / F.col("nb"))
            / ((F.col("c1") * 1.0 / F.col("nu")) * (F.col("c2") * 1.0 / F.col("nu")))
        ),
        6,
    )
    return (
        bi.filter(F.col("cb") >= min_count)
        .join(F.broadcast(u1), F.split(F.col("bigram"), " ")[0] == F.col("w1"))
        .join(F.broadcast(u2), F.split(F.col("bigram"), " ")[1] == F.col("w2"))
        .crossJoin(F.broadcast(n))
        .select("bigram", "cb", "c1", "c2", pmi.alias("pmi"))
    )


@register(
    "q_inverted_index",
    oracle="""
    SELECT t AS token,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           array_to_string(list_sort(list(DISTINCT doc_id))[1:20], ',') AS postings
    FROM (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
      FROM documents
    )
    GROUP BY 1
    """,
    doc="Inverted index: token -> document frequency + the first 20 "
    "postings in doc_id order. Spark plan: distinct (token, doc_id) "
    "pairs, a per-token window row_number caps the collected postings "
    "at 20 BEFORE any list materializes (the full posting list of a "
    "stopword-grade token would be corpus-sized; capping inside the "
    "shuffle keeps per-group state bounded — the real 100 TB design "
    "shards postings by (token, doc_id range) instead of collecting), "
    "while df aggregates separately over all pairs. Postings are "
    "string-joined (the q_agg_collect engine-neutral list convention). "
    "DuckDB sorts the full distinct list then slices — same result, "
    "oracle-side only.",
)
def q_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents")
    # The distinct (token, doc) pair table feeds both the df aggregate
    # and the capped-postings window: materialize the (expensive,
    # corpus-wide) explode+distinct once. At 100 TB this is a
    # spill-to-local-disk materialization — still strictly cheaper
    # than running the corpus explode twice.
    pairs = (
        d.select(
            "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    df_counts = pairs.groupBy("token").agg(F.count("*").alias("df"))
    top = (
        pairs.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("token").orderBy(F.col("doc_id"))
            ),
        )
        .filter(F.col("rn") <= 20)
        .groupBy("token")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("doc_id")), ","
            ).alias("postings")
        )
    )
    return df_counts.join(top, "token").select("token", "df", "postings")


@register(
    "q_zorder_layout",
    oracle="""
    WITH stats AS (
      SELECT MIN(user_id) AS umin, MAX(user_id) AS umax,
             MIN(value) AS vmin, MAX(value) AS vmax
      FROM events
    ),
    binned AS (
      SELECT CAST(LEAST(15, FLOOR((e.user_id - s.umin) * 16.0
                                  / GREATEST(s.umax - s.umin, 1e-9))) AS BIGINT) AS ub,
             CAST(LEAST(15, FLOOR((e.value - s.vmin) * 16.0
                                  / GREATEST(s.vmax - s.vmin, 1e-9))) AS BIGINT) AS vb
      FROM events e CROSS JOIN stats s
    ),
    zkeyed AS (
      SELECT ub, vb,
             (((ub >> 0) & 1) << 1) + (((vb >> 0) & 1) << 0)
           + (((ub >> 1) & 1) << 3) + (((vb >> 1) & 1) << 2)
           + (((ub >> 2) & 1) << 5) + (((vb >> 2) & 1) << 4)
           + (((ub >> 3) & 1) << 7) + (((vb >> 3) & 1) << 6) AS z
      FROM binned
    )
    SELECT z, CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ub) AS min_ub, MAX(ub) AS max_ub,
           MIN(vb) AS min_vb, MAX(vb) AS max_vb
    FROM zkeyed GROUP BY z
    """,
    doc="Z-order (Morton) clustering key over (user_id, value): each "
    "dimension is range-binned to 4 bits via a broadcast 1-row min/max "
    "stats aggregate, the bits interleave into an 8-bit z-key (pure "
    "integer arithmetic — exact on any engine), and the output is the "
    "per-bucket bounding box. Writing files in z-key ranges gives every "
    "file a tight min/max envelope on BOTH columns — the multi-"
    "dimensional file-skipping layout (OPTIMIZE ZORDER). The aggregate "
    "here verifies exactly that envelope property. At 100 TB the plan "
    "is scan + broadcast stats + hash-agg on a 256-value key: no sort, "
    "no wide shuffle; the layout write itself would repartitionByRange "
    "on z (one range shuffle, the price of clustering).",
)
def q_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    stats = e.agg(
        F.min("user_id").alias("umin"),
        F.max("user_id").alias("umax"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )

    def _bin(col, lo, hi):
        span = F.greatest(F.col(hi) - F.col(lo), F.lit(1e-9))
        return F.least(
            F.lit(15).cast("long"),
            F.floor((F.col(col) - F.col(lo)) * 16.0 / span),
        ).cast("long")

    binned = e.crossJoin(F.broadcast(stats)).select(
        _bin("user_id", "umin", "umax").alias("ub"),
        _bin("value", "vmin", "vmax").alias("vb"),
    )
    bit = lambda c, i: F.shiftright(F.col(c), i).bitwiseAND(F.lit(1))  # noqa: E731
    z = sum(
        (
            F.shiftleft(bit("ub", i), 2 * i + 1)
            + F.shiftleft(bit("vb", i), 2 * i)
            for i in range(4)
        ),
        start=F.lit(0),
    )
    return (
        binned.withColumn("z", z.cast("long"))
        .groupBy("z")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ub").alias("min_ub"),
            F.max("ub").alias("max_ub"),
            F.min("vb").alias("min_vb"),
            F.max("vb").alias("max_vb"),
        )
    )


@register(
    "q_fuzzy_join",
    oracle="""
    WITH p AS (
      SELECT p_partkey, p_name, string_split(p_name, ' ')[2] AS blk
      FROM part
    ),
    pairs AS (
      SELECT a.p_partkey AS k1, a.p_name AS n1,
             b.p_partkey AS k2, b.p_name AS n2,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      FROM p a JOIN p b
        ON a.blk = b.blk AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
    ),
    sym AS (
      SELECT k1 AS key, n1 AS name, k2 AS match_key, n2 AS match_name, dist FROM pairs
      UNION ALL
      SELECT k2, n2, k1, n1, dist FROM pairs
    )
    SELECT key AS p_partkey, name AS p_name, match_key, match_name, dist
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY key ORDER BY dist, match_key
      ) AS rn FROM sym
    ) WHERE rn = 1
    """,
    doc="Fuzzy entity-resolution join: for every part, the nearest "
    "OTHER part name within edit distance 1-3 (distance 0 is exact-dup "
    "territory, q_dedup_exact's job), candidate pairs blocked on the "
    "name's noun so the quadratic never runs corpus-wide, and — the "
    "engine-side rewrite parity proves — evaluated on DISTINCT names "
    "only (value canopy), with the per-name verdict broadcast back to "
    "rows. Best match per record by (dist, match_key) total order. "
    "Scale notes: blocking bounds the quadratic by block size; value "
    "dedup bounds it again by distinct-value count — the difference "
    "between tens of millions and hundreds of levenshtein evaluations "
    "on duplicate-heavy columns. levenshtein on both engines is the "
    "exact integer DP — no float parity risk. The vocabulary-sized "
    "premise is pinned: distinct-name cardinality above the broadcast "
    "envelope raises before either broadcast (fuzzy_best_match).",
)
def q_fuzzy_join(spark: SparkSession, sf: str) -> DataFrame:
    p = table(spark, sf, "part").select(
        "p_partkey",
        "p_name",
        F.split(F.col("p_name"), " ")[1].alias("blk"),
    )
    return fuzzy_best_match(p)


# The whole-plan premise of fuzzy_best_match is that the DISTINCT match
# column is vocabulary-sized: the canopy table is broadcast TWICE (pair
# generation + verdict join-back). 2M names ≈ low tens of MB serialized
# — comfortably inside executor broadcast budgets; past it, the right
# fix is LSH/sorted-neighborhood blocking with shuffle joins, not a
# bigger broadcast.
FUZZY_BROADCAST_MAX_NAMES = 2_000_000


def fuzzy_best_match(
    p: DataFrame, max_distinct_names: int = FUZZY_BROADCAST_MAX_NAMES
) -> DataFrame:
    """Blocked edit-distance best match over (p_partkey, p_name, blk).

    Dedupe-before-quadratic: edit distance is a function of the NAME,
    not the row, so the blocked quadratic runs over DISTINCT names
    (value-level canopy) and the per-name verdict broadcasts back to
    the row table. The oracle defines the same result at the naive
    row-pair level; parity proves the rewrite. This is the 100 TB
    shape for low-cardinality match columns: a duplicate-heavy
    row-level self-join here costs tens of millions of levenshtein
    evaluations (measured 81s at bench SF; 11s parallelized) while
    the distinct-name quadratic is vocabulary-sized (<1s) and the
    join-back is a broadcast hash probe at scan speed.

    The vocabulary-sized assumption is PINNED, not hoped (ADVICE r4,
    the q_join_spatial discipline): the canopy is materialized once,
    counted, and a distinct-name cardinality above
    ``max_distinct_names`` raises before either broadcast — a
    high-cardinality column must fail loudly, not OOM the driver.

    Tie-break equivalence with the row-level window (dist, match_key):
    every row of name N gets the same best match — the globally
    min-keyed row among names at N's minimum distance — which at the
    name level is argmin over matching names of (dist, min_key[name]).
    """
    # Materialized once: three consumers (the count gate + both join
    # sides) and the gate needs the real cardinality anyway.
    names = (
        p.groupBy("p_name", "blk")
        .agg(F.min("p_partkey").alias("min_key"))
        .localCheckpoint(eager=True)
    )
    n_distinct = names.count()
    if n_distinct > max_distinct_names:
        raise ValueError(
            f"fuzzy_best_match: {n_distinct} distinct names exceeds the "
            f"broadcast envelope ({max_distinct_names}); the value-canopy "
            "broadcast plan assumes a vocabulary-sized match column — use "
            "LSH/sorted-neighborhood blocking with shuffle joins instead"
        )
    na = names.select(
        F.col("p_name").alias("n1"), F.col("blk").alias("blk1")
    )
    nb = names.select(
        F.col("p_name").alias("n2"),
        F.col("blk").alias("blk2"),
        F.col("min_key").alias("mk2"),
    )
    dist = F.levenshtein(F.col("n1"), F.col("n2")).cast("bigint")
    name_pairs = (
        na.join(
            F.broadcast(nb),
            (F.col("blk1") == F.col("blk2")) & (F.col("n1") != F.col("n2")),
        )
        .withColumn("dist", dist)
        .filter(F.col("dist").between(1, 3))
    )
    rn = F.row_number().over(W.partitionBy("n1").orderBy("dist", "mk2"))
    best = (
        name_pairs.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            F.col("n1"),
            F.col("mk2").alias("match_key"),
            F.col("n2").alias("match_name"),
            "dist",
        )
    )
    return p.join(F.broadcast(best), p.p_name == best.n1).select(
        "p_partkey", "p_name", "match_key", "match_name", "dist"
    )


def _hilbert_d(x0, y0, order: int = 4):
    """Hilbert xy→d for a 2^order grid as pure column arithmetic — the
    classic per-level reflect+swap unrolled ``order`` times (no UDF,
    no XOR builtin: the (3*rx)^ry quadrant index is a 4-way CASE so
    the engine and the SQL oracle share semantics symbol-for-symbol).
    The reflect uses the CANONICAL n-1 (full grid), not s-1: the s-1
    variant drives intermediates negative, where Python / JVM / DuckDB
    floor-div and modulo semantics diverge (caught by the grid pin —
    84/256 cells differed engine-vs-DuckDB before the fix); with n-1
    every intermediate stays in [0, 2^order) on every engine.
    Pinned against the textbook xy2d on the full grid by pytest."""
    n = 2**order
    x, y, d = x0.cast("long"), y0.cast("long"), F.lit(0).cast("long")
    s = n // 2
    while s > 0:
        rx1 = x.bitwiseAND(F.lit(s)) > 0
        ry1 = y.bitwiseAND(F.lit(s)) > 0
        quad = (
            F.when(~rx1 & ~ry1, 0)
            .when(~rx1 & ry1, 1)
            .when(rx1 & ~ry1, 3)
            .otherwise(2)
        )
        d = d + F.lit(s * s) * quad
        refl = ~ry1 & rx1
        xr = F.when(refl, F.lit(n - 1) - x).otherwise(x)
        yr = F.when(refl, F.lit(n - 1) - y).otherwise(y)
        x, y = F.when(~ry1, yr).otherwise(x), F.when(~ry1, xr).otherwise(y)
        s //= 2
    return d


def _hilbert_oracle(order: int = 4) -> str:
    """The same per-level unroll as chained DuckDB CTEs (n-1 reflect —
    see _hilbert_d: intermediates stay non-negative, so // and % agree
    across engines)."""
    n = 2**order
    lvls = []
    s = n // 2
    i = 0
    prev = "binned"
    while s > 0:
        nxt = f"h{i}"
        lvls.append(f""",
    {nxt} AS (
      SELECT d + {s * s} * CASE WHEN x // {s} % 2 = 0 AND y // {s} % 2 = 0 THEN 0
                                WHEN x // {s} % 2 = 0 THEN 1
                                WHEN y // {s} % 2 = 0 THEN 3
                                ELSE 2 END AS d,
             CASE WHEN y // {s} % 2 = 0
                  THEN (CASE WHEN x // {s} % 2 = 1 THEN {n - 1} - y ELSE y END)
                  ELSE x END AS x,
             CASE WHEN y // {s} % 2 = 0
                  THEN (CASE WHEN x // {s} % 2 = 1 THEN {n - 1} - x ELSE x END)
                  ELSE y END AS y,
             ub, vb
      FROM {prev}
    )""")
        prev = nxt
        s //= 2
        i += 1
    return "".join(lvls), prev


_HILBERT_LVLS, _HILBERT_LAST = _hilbert_oracle()

_HILBERT_SQL = f"""
    WITH stats AS (
      SELECT MIN(user_id) AS umin, MAX(user_id) AS umax,
             MIN(value) AS vmin, MAX(value) AS vmax
      FROM events
    ),
    binned AS (
      SELECT CAST(0 AS BIGINT) AS d, ub AS x, vb AS y, ub, vb FROM (
        SELECT CAST(LEAST(15, FLOOR((e.user_id - s.umin) * 16.0
                                    / GREATEST(s.umax - s.umin, 1e-9))) AS BIGINT) AS ub,
               CAST(LEAST(15, FLOOR((e.value - s.vmin) * 16.0
                                    / GREATEST(s.vmax - s.vmin, 1e-9))) AS BIGINT) AS vb
        FROM events e CROSS JOIN stats s
      )
    ){_HILBERT_LVLS}
    SELECT d AS h, CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ub) AS min_ub, MAX(ub) AS max_ub,
           MIN(vb) AS min_vb, MAX(vb) AS max_vb
    FROM {_HILBERT_LAST} GROUP BY d
"""


@register(
    "q_hilbert_layout",
    oracle=_HILBERT_SQL,
    doc="Hilbert-curve clustering key over (user_id, value) — the "
    "z-order twin (q_zorder_layout) with strictly better locality: "
    "the Hilbert curve has NO long diagonal jumps, so consecutive key "
    "ranges map to contiguous 2-D tiles and per-file min/max "
    "envelopes are tighter on average than Morton's (this is why "
    "modern table formats offer Hilbert alongside z-order for "
    "OPTIMIZE ... CLUSTER BY). Same plan shape: scan + broadcast "
    "1-row min/max stats + 4-bit bin per dimension + the order-4 "
    "reflect/swap unroll (pure integer CASE arithmetic, "
    "whole-stage-codegen'd, exact on any engine) + hash-agg on the "
    "256-value key; the layout write would repartitionByRange on h. "
    "Oracle: the identical unroll as chained DuckDB CTEs "
    "(_hilbert_oracle); pytest pins the column transform against the "
    "textbook xy2d on every grid cell.",
)
def q_hilbert_layout(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    stats = e.agg(
        F.min("user_id").alias("umin"),
        F.max("user_id").alias("umax"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )

    def _bin(col, lo, hi):
        span = F.greatest(F.col(hi) - F.col(lo), F.lit(1e-9))
        return F.least(
            F.lit(15).cast("long"),
            F.floor((F.col(col) - F.col(lo)) * 16.0 / span),
        ).cast("long")

    binned = e.crossJoin(F.broadcast(stats)).select(
        _bin("user_id", "umin", "umax").alias("ub"),
        _bin("value", "vmin", "vmax").alias("vb"),
    )
    return (
        binned.withColumn("h", _hilbert_d(F.col("ub"), F.col("vb")))
        .groupBy("h")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ub").alias("min_ub"),
            F.max("ub").alias("max_ub"),
            F.min("vb").alias("min_vb"),
            F.max("vb").alias("max_vb"),
        )
    )


@register(
    "q_zipf_fit",
    # Float discipline: the six OLS moment sums each ride ONE
    # sequential fold over the SAME deterministically-ordered array
    # (Spark aggregate ≡ DuckDB list_sum(list_transform) — the
    # proven bitwise shape); ranks enter as ln(i) from the fold
    # index (DuckDB lambda index is 1-BASED, Spark's 0-based — the
    # +1 below is that shift); identical final parenthesization;
    # outputs rounded 6 dp (ln() libm ulps cannot reach 1e-6 on
    # O(1) quantities over 2000 terms).
    oracle="""
    WITH freq AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word <> ''
      GROUP BY word
    ), top AS (
      SELECT cnt, word FROM freq ORDER BY cnt DESC, word LIMIT 2000
    ), arr AS (
      SELECT list(cnt ORDER BY cnt DESC, word) AS c,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_ranks
      FROM top
    ), s AS (
      SELECT n, n_ranks,
        list_sum(list_transform(c, (x, i) -> ln(CAST(i AS DOUBLE)))) AS sx,
        list_sum(list_transform(c, (x, i) -> ln(CAST(x AS DOUBLE)))) AS sy,
        list_sum(list_transform(c, (x, i) ->
          ln(CAST(i AS DOUBLE)) * ln(CAST(i AS DOUBLE)))) AS sxx,
        list_sum(list_transform(c, (x, i) ->
          ln(CAST(i AS DOUBLE)) * ln(CAST(x AS DOUBLE)))) AS sxy,
        list_sum(list_transform(c, (x, i) ->
          ln(CAST(x AS DOUBLE)) * ln(CAST(x AS DOUBLE)))) AS syy
      FROM arr
    )
    SELECT n_ranks,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0 AS zipf_slope,
           ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                 / n, 6) + 0.0 AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0
             AS r2
    FROM s
    """,
    doc="Zipf rank-frequency power-law fit (SURVEY §2.9b corpus "
    "analytics — the standard first diagnostic of any text corpus: "
    "natural language shows log(freq) ≈ a − s·log(rank) with "
    "s ≈ 1; a synthetic or templated corpus shows up instantly as a "
    "flat or kinked curve): corpus word frequencies (one map-side-"
    "combined hash-agg), the top-2000 (cnt DESC, word) ranks via "
    "distributed TakeOrdered, then one bounded 2000-struct row whose "
    "six OLS moment sums each ride a sequential fold — exact-order "
    "identical in both engines — yielding slope, intercept, and R². "
    "At 100 TB the corpus scan is the only unbounded stage; the fit "
    "itself touches a constant 2000 rows.",
)
def q_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    words = (
        table(spark, sf, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    top = (
        words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(2000)
    )
    arr = top.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(-cnt AS k, word AS w,"
            " cnt AS c))), s -> s.c)"
        ).alias("c"),
        F.count("*").cast("double").alias("n"),
        F.count("*").cast("bigint").alias("n_ranks"),
    )
    # Spark lambda index is 0-based; ln(i+1) mirrors DuckDB's ln(i)
    fold = (
        "aggregate(zip_with(sequence(1, size(c)), c,"
        " (i, x) -> {term}), 0.0D, (acc, t) -> acc + t)"
    )

    def msum(term: str) -> F.Column:
        return F.expr(fold.format(term=term))

    s = arr.select(
        "n",
        "n_ranks",
        msum("ln(cast(i as double))").alias("sx"),
        msum("ln(cast(x as double))").alias("sy"),
        msum("ln(cast(i as double)) * ln(cast(i as double))").alias("sxx"),
        msum("ln(cast(i as double)) * ln(cast(x as double))").alias("sxy"),
        msum("ln(cast(x as double)) * ln(cast(x as double))").alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "n_ranks",
        (F.round(slope, 6) + F.lit(0.0)).alias("zipf_slope"),
        (
            F.round(
                (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
            )
            + F.lit(0.0)
        ).alias("intercept"),
        F.round(
            (
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            )
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("__r2_raw"),
    ).withColumn("r2", F.col("__r2_raw") + F.lit(0.0)).drop("__r2_raw")


@register(
    "q_source_jsd",
    # Float discipline: both engines fold the SAME (global-count
    # DESC, word) ordered per-source array sequentially (aggregate ≡
    # list_sum(list_transform)), with identical term parenthesization
    # and integer totals (SUM of counts is order-independent); the
    # two zero cases (word absent from the source / absent from the
    # complement) contribute exactly 0 by the CASE, so no ln(0) is
    # ever evaluated; result rounded 6 dp.
    oracle="""
    WITH words AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ), w AS (
      SELECT source, word FROM words WHERE word <> ''
    ), g AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS cg FROM w GROUP BY word
    ), top AS (
      SELECT word, cg FROM g ORDER BY cg DESC, word LIMIT 500
    ), csw AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cs
      FROM w GROUP BY source, word
    ), grid AS (
      SELECT s.source, t.word, t.cg, COALESCE(c.cs, 0) AS cs
      FROM (SELECT DISTINCT source FROM w) s
      CROSS JOIN top t
      LEFT JOIN csw c ON c.source = s.source AND c.word = t.word
    ), per AS (
      SELECT source,
             list(struct_pack(cs := cs, cg := cg)
                  ORDER BY cg DESC, word) AS arr,
             CAST(SUM(cs) AS BIGINT) AS ts,
             CAST(SUM(cg) AS BIGINT) AS tg
      FROM grid GROUP BY source
    )
    SELECT source,
           ts AS src_tokens,
           tg - ts AS rest_tokens,
           CASE WHEN ts = 0 OR tg - ts = 0 THEN NULL ELSE
           ROUND((0.5 * list_sum(list_transform(arr, x ->
              CASE WHEN x.cs > 0 THEN
                (CAST(x.cs AS DOUBLE) / ts) * ln(
                  (CAST(x.cs AS DOUBLE) / ts) /
                  (((CAST(x.cs AS DOUBLE) / ts)
                    + (CAST(x.cg - x.cs AS DOUBLE) / (tg - ts))) / 2))
              ELSE 0.0 END))
            + 0.5 * list_sum(list_transform(arr, x ->
              CASE WHEN x.cg - x.cs > 0 THEN
                (CAST(x.cg - x.cs AS DOUBLE) / (tg - ts)) * ln(
                  (CAST(x.cg - x.cs AS DOUBLE) / (tg - ts)) /
                  (((CAST(x.cs AS DOUBLE) / ts)
                    + (CAST(x.cg - x.cs AS DOUBLE) / (tg - ts))) / 2))
              ELSE 0.0 END))) / ln(2.0), 6) END AS jsd_bits
    FROM per
    """,
    doc="Per-source Jensen-Shannon divergence vs the rest of the "
    "corpus (SURVEY §2.9b — the mixture-QA metric training-data "
    "blending runs: a source whose unigram distribution diverges "
    "from the pool is a candidate for re-weighting or quality "
    "review; JSD is symmetric, bounded [0,1] in bits, and defined "
    "even where KL blows up on zero counts): distributions over the "
    "global top-500 words (one corpus hash-agg + TakeOrdered), one "
    "bounded per-source array ordered identically in both engines, "
    "two sequential folds with exact 0·ln0 = 0 handling. At 100 TB "
    "the corpus scans once for counts; every later stage is "
    "|sources| × 500 rows.",
)
def q_source_jsd(spark: SparkSession, sf: str) -> DataFrame:
    w = (
        table(spark, sf, "documents")
        .select("source", F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    top = (
        w.groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cg"))
        .orderBy(F.desc("cg"), "word")
        .limit(500)
    )
    csw = w.groupBy("source", "word").agg(
        F.count("*").cast("bigint").alias("cs")
    )
    grid = (
        w.select("source")
        .distinct()
        .crossJoin(F.broadcast(top))
        .join(csw, ["source", "word"], "left")
        .select(
            "source",
            "word",
            "cg",
            F.coalesce("cs", F.lit(0).cast("bigint")).alias("cs"),
        )
    )
    per = grid.groupBy("source").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(-cg AS k, word AS w,"
            " cs AS cs, cg AS cg))), s -> struct(s.cs AS cs, s.cg AS cg))"
        ).alias("arr"),
        F.sum("cs").cast("bigint").alias("ts"),
        F.sum("cg").cast("bigint").alias("tg"),
    )
    term_p = (
        "CASE WHEN x.cs > 0 THEN"
        " (CAST(x.cs AS DOUBLE) / ts) * ln("
        " (CAST(x.cs AS DOUBLE) / ts) /"
        " (((CAST(x.cs AS DOUBLE) / ts)"
        " + (CAST(x.cg - x.cs AS DOUBLE) / (tg - ts))) / 2))"
        " ELSE 0.0D END"
    )
    term_q = (
        "CASE WHEN x.cg - x.cs > 0 THEN"
        " (CAST(x.cg - x.cs AS DOUBLE) / (tg - ts)) * ln("
        " (CAST(x.cg - x.cs AS DOUBLE) / (tg - ts)) /"
        " (((CAST(x.cs AS DOUBLE) / ts)"
        " + (CAST(x.cg - x.cs AS DOUBLE) / (tg - ts))) / 2))"
        " ELSE 0.0D END"
    )
    fold = "aggregate(arr, 0.0D, (acc, x) -> acc + ({t}))"
    jsd = F.expr(
        "CASE WHEN ts = 0 OR tg - ts = 0 THEN NULL ELSE "
        f"ROUND((0.5D * {fold.format(t=term_p)}"
        f" + 0.5D * {fold.format(t=term_q)}) / ln(2.0D), 6) END"
    )
    return per.select(
        "source",
        F.col("ts").alias("src_tokens"),
        (F.col("tg") - F.col("ts")).alias("rest_tokens"),
        jsd.alias("jsd_bits"),
    )


@register(
    "q_heaps_law",
    # The + 0.0 after every ROUND (both engines) normalizes IEEE
    # -0.0 to +0.0: a flat corpus rounds the slope to zero and
    # DuckDB preserved the negative sign where Spark did not —
    # numerically equal, hash-DIFFERENT (caught by the driver's
    # value hash, invisible to float equality).
    # All-integer construction: a word's first occurrence is
    # min(doc_id); the vocabulary size after the k-th document is the
    # count of words whose first doc sorts at or before it (cumulative
    # count over the deterministic (first_doc) order); token counts
    # accumulate the same way. The OLS fit over (ln tokens, ln vocab)
    # rides the q_zipf_fit sequential-fold discipline at 20 evenly
    # spaced checkpoints; outputs rounded 6 dp.
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ), w AS (
      SELECT doc_id, word FROM words WHERE word <> ''
    ), per_doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      FROM (SELECT doc_id, word,
                   row_number() OVER (PARTITION BY word
                                      ORDER BY doc_id) AS rn
            FROM w)
      GROUP BY doc_id
    ), cum AS (
      SELECT doc_id,
             CAST(SUM(n_tok) OVER (ORDER BY doc_id) AS BIGINT) AS toks,
             CAST(SUM(n_new) OVER (ORDER BY doc_id) AS BIGINT) AS vocab,
             row_number() OVER (ORDER BY doc_id) AS k,
             COUNT(*) OVER () AS n_docs
      FROM per_doc
    ), pts AS (
      SELECT toks, vocab FROM cum
      WHERE k % greatest(CAST(n_docs // 20 AS BIGINT), 1) = 0
      ORDER BY toks LIMIT 20
    ), arr AS (
      SELECT list(struct_pack(t := toks, v := vocab) ORDER BY toks) AS a,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_points
      FROM pts
    ), s AS (
      SELECT n, n_points,
        list_sum(list_transform(a, x -> ln(CAST(x.t AS DOUBLE)))) AS sx,
        list_sum(list_transform(a, x -> ln(CAST(x.v AS DOUBLE)))) AS sy,
        list_sum(list_transform(a, x ->
          ln(CAST(x.t AS DOUBLE)) * ln(CAST(x.t AS DOUBLE)))) AS sxx,
        list_sum(list_transform(a, x ->
          ln(CAST(x.t AS DOUBLE)) * ln(CAST(x.v AS DOUBLE)))) AS sxy
      FROM arr
    )
    SELECT n_points,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
             AS heaps_beta,
           ROUND(exp((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                      * sx) / n), 6) + 0.0 AS heaps_k
    FROM s
    """,
    doc="Heaps'-law vocabulary-growth fit (SURVEY §2.9b — the "
    "companion diagnostic to q_zipf_fit: natural language grows "
    "vocabulary as V ≈ K·Nᵝ with β ≈ 0.4-0.6; a templated or "
    "looping corpus flattens early, a random-noise corpus reads "
    "β ≈ 1): each word's first occurrence is min(doc_id) — one "
    "corpus hash-agg, exactly the dedup-survivor shape — cumulative "
    "(tokens, vocabulary) in doc_id order, 20 evenly spaced "
    "checkpoints, and the (ln N, ln V) OLS via the q_zipf_fit "
    "sequential-fold discipline. At 100 TB the scan and one "
    "word-keyed shuffle are the unbounded stages; the doc-ordered "
    "cumulative is doc-PROPORTIONAL (billions of rows at corpus "
    "scale), so it rides the two-pass range-partitioned prefix sum "
    "(operators/prefix_sum.py — no single-partition exchange; doc_id "
    "is unique, a total order) with the doc count taken exactly from "
    "the pass-1 partials; the fit touches 20 rows.",
)
def q_heaps_law(spark: SparkSession, sf: str) -> DataFrame:
    w = (
        table(spark, sf, "documents")
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    per_doc = (
        w.select(
            "doc_id",
            "word",
            F.row_number()
            .over(W.partitionBy("word").orderBy("doc_id"))
            .alias("rn"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
        )
    )
    from gps_stream_processing_spark.operators.prefix_sum import (
        running_totals,
    )

    # Distributed cumulative over the per-doc table (doc-proportional
    # at corpus scale — VERDICT r13): two-pass range-partitioned
    # prefix sum; doc_id is unique so the order is total. The doc
    # count comes exactly from the pass-1 partials (with_totals).
    # Checkpoint step is integer FLOOR division on both engines
    # (Python // here, DuckDB // in the oracle) — exact at any corpus
    # size, where float division + truncation loses exactness past
    # 2^53 docs (ADVICE r14, low).
    cum, totals = running_totals(
        per_doc,
        ["doc_id"],
        sums={"toks": "n_tok", "vocab": "n_new"},
        count_col="k",
        with_totals=True,
    )
    step = max(totals["n_rows"] // 20, 1)
    pts = (
        cum.filter(F.col("k") % F.lit(step) == 0)
        .orderBy("toks")
        .limit(20)
    )
    arr = pts.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(toks AS t,"
            " vocab AS v))), s -> struct(s.t AS t, s.v AS v))"
        ).alias("a"),
        F.count("*").cast("double").alias("n"),
        F.count("*").cast("bigint").alias("n_points"),
    )
    fold = "aggregate(a, 0.0D, (acc, x) -> acc + ({t}))"

    def msum(term: str) -> F.Column:
        return F.expr(fold.format(t=term))

    s = arr.select(
        "n",
        "n_points",
        msum("ln(cast(x.t as double))").alias("sx"),
        msum("ln(cast(x.v as double))").alias("sy"),
        msum("ln(cast(x.t as double)) * ln(cast(x.t as double))").alias("sxx"),
        msum("ln(cast(x.t as double)) * ln(cast(x.v as double))").alias("sxy"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "n_points",
        (F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
        (
            F.round(
                F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")), 6
            )
            + F.lit(0.0)
        ).alias("heaps_k"),
    )


@register(
    "q_ngram_novelty",
    # All-integer per-doc counts (distinct trigrams, trigrams whose
    # GLOBAL first occurrence is this doc) + one exact-ratio division
    # rounded 6 dp. The engine hashes shingles to 8-byte xxhash64
    # before the shuffle (operators/dedup.py shingle_table) while the
    # oracle groups the raw strings - identical first-doc sets unless
    # two distinct trigrams collide in 2^64 (negligible; the same
    # equivalence every dedup key in the suite relies on).
    oracle="""
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM tok, UNNEST(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    ), firsts AS (
      SELECT doc_id, shingle,
             MIN(doc_id) OVER (PARTITION BY shingle) AS first_doc
      FROM sh
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS novelty_ratio
    FROM firsts GROUP BY doc_id
    """,
    doc="Per-document n-gram NOVELTY (SURVEY 2.9b ext - the "
    "memorization/repetition diagnostic beside q_heaps_law's corpus-"
    "level growth curve: the fraction of a document's distinct "
    "3-grams whose global FIRST occurrence, in doc_id ingest order, "
    "is this document; boilerplate, templated, or duplicated docs "
    "read near 0 and are what a curation pass downweights). Rides "
    "the shared hashed shingle table (operators/dedup.py - 8-byte "
    "xxhash64 shingles, distinct applied per-doc BEFORE the explode), "
    "then ONE shingle-keyed window assigns first_doc with no "
    "self-join, and one doc-keyed agg emits exact counts. At 100 TB "
    "both shuffles key on longs, never shingle text.",
)
def q_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.plans.llm import _shingles

    sh = _shingles(spark, sf)
    firsts = sh.select(
        "doc_id",
        (
            F.col("doc_id")
            == F.min("doc_id").over(W.partitionBy("shingle"))
        ).alias("novel"),
    )
    return firsts.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_trigrams"),
        F.sum(F.when(F.col("novel"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_novel"),
        F.round(
            F.sum(F.when(F.col("novel"), 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("novelty_ratio"),
    )


@register(
    "q_kneser_ney",
    # Interpolated Kneser-Ney with absolute discount D = 0.75: every
    # input to the formula is an EXACT integer count (bigram count c,
    # left-context total cw1, distinct-continuation fan-outs n1f/n1b,
    # bigram-type total T), so the one double expression evaluates
    # identically on both engines with this exact parenthesization:
    # GREATEST(c - 0.75, 0)/cw1 + (0.75*n1f/cw1) * (n1b/T). The
    # bigram grid follows the q_pmi_bigrams tokenizer convention
    # (raw split on ' ', adjacency over the unfiltered array) so the
    # two collocation operators agree on what a bigram is.
    oracle="""
    WITH tok AS (
      SELECT string_split(lower(text), ' ') AS w FROM documents
    ), bg0 AS (
      SELECT unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || ' ' || w[i + 1])) AS b
      FROM tok
    ), bg AS (
      SELECT string_split(b, ' ')[1] AS w1, string_split(b, ' ')[2] AS w2,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM bg0 GROUP BY 1, 2
    ), cw AS (
      SELECT w1, CAST(SUM(c) AS BIGINT) AS cw1,
             CAST(COUNT(*) AS BIGINT) AS n1f
      FROM bg GROUP BY 1
    ), cb AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM bg GROUP BY 1
    ), tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM bg)
    SELECT b.w1, b.w2, b.c AS n_bigram,
           ROUND(GREATEST(b.c - 0.75, 0) / cw.cw1
                 + (0.75 * cw.n1f / cw.cw1)
                   * (cb.n1b / CAST(tt.t AS DOUBLE)), 6) AS p_kn
    FROM bg b JOIN cw USING (w1) JOIN cb USING (w2) CROSS JOIN tt
    ORDER BY b.c DESC, b.w1, b.w2 LIMIT 20
    """,
    doc="Interpolated Kneser-Ney bigram probabilities (SURVEY §2.9b "
    "ext — the LM-smoothing primitive beside q_pmi_bigrams: the "
    "n-gram LM every classic data-quality/perplexity filter scores "
    "against uses exactly this estimator; Chen & Goodman 1999's "
    "P_KN(w2|w1) = max(c-D,0)/c(w1 .) + D*N1+(w1,.)/c(w1 .) * "
    "N1+(.,w2)/|bigram types| with absolute discount D = 0.75 — the "
    "continuation probability is what makes 'san francisco' cheap "
    "and 'san the' expensive even at equal unigram counts). One "
    "explode -> bigram hash-agg (map-side combined, vocab^2-bounded "
    "key space), two vocab-sized broadcast joins for the left/right "
    "fan-out tables, one broadcast 1-row type total; reports the "
    "top-20 bigrams by count. Counts, not text, shuffle at 100 TB.",
)
def q_kneser_ney(spark: SparkSession, sf: str) -> DataFrame:
    return kneser_ney_stats(table(spark, sf, "documents"))


def kneser_ney_stats(docs: DataFrame) -> DataFrame:
    """The q_kneser_ney core over any (text) DataFrame — kept apart from
    its table scans so the shipped plan code runs as is over any input
    of that shape (scaled or replicated), never a copy."""
    toks = docs.select(
        F.split(F.lower(F.col("text")), " ").alias("w")
    )
    bg = (
        toks.select(
            F.explode(
                F.expr(
                    "zip_with(slice(w, 1, greatest(size(w) - 1, 0)),"
                    "         slice(w, 2, greatest(size(w) - 1, 0)),"
                    "         (x, y) -> struct(x AS w1, y AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("c"))
        # the bigram table feeds FOUR consumers (cw, cb, the type
        # total, and the final join) — one corpus explode, pinned
        .localCheckpoint(eager=True)
    )
    cw = bg.groupBy("w1").agg(
        F.sum("c").cast("bigint").alias("cw1"),
        F.count("*").cast("bigint").alias("n1f"),
    )
    cb = bg.groupBy("w2").agg(F.count("*").cast("bigint").alias("n1b"))
    tt = bg.agg(F.count("*").cast("bigint").alias("t"))
    p_kn = F.round(
        F.greatest(F.col("c") - 0.75, F.lit(0)) / F.col("cw1")
        + (F.lit(0.75) * F.col("n1f") / F.col("cw1"))
        * (F.col("n1b") / F.col("t").cast("double")),
        6,
    )
    # cw/cb are word-TYPE-sized (Heaps-law growth at corpus scale) —
    # size-gate the broadcast hint like the unigram/wordpiece lookups
    # (r14 review); past the gate the joins shuffle-hash on the word.
    from gps_stream_processing_spark.operators.graph import _fits_broadcast

    n_types = bg.agg(
        F.countDistinct("w1").alias("a"), F.countDistinct("w2").alias("b")
    ).first()
    cw_side = F.broadcast(cw) if _fits_broadcast(n_types["a"]) else cw
    cb_side = F.broadcast(cb) if _fits_broadcast(n_types["b"]) else cb
    return (
        bg.join(cw_side, "w1")
        .join(cb_side, "w2")
        .crossJoin(F.broadcast(tt))
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(20)
        .select("w1", "w2", F.col("c").alias("n_bigram"), p_kn.alias("p_kn"))
    )
