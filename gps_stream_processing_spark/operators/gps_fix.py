"""The reference's core dataflow as three Spark stages (SURVEY §2.5, §3.1).

Reference lifecycle (``class.nmea.parser.php``):

    ParseLine (:103-114) → SetNmeaType demux (:137-140, switch :105-113)
      → per-sentence tokenize/project (:170-328)
      → $CurrentUTC forward-fill (:172,204,226,264,291,319)
      → $Nmea[key][field] upsert-merge (:173-187 et al.)

Spark re-expression:

    stage 1  ``parse_sentences``  — narrow map: demux + a projection
             driven by one token-position table (``FIELD_TOKENS``).
             Pure column expressions; whole-stage codegen; unknown
             sentence types dropped exactly like the ``default: return``
             at ``:112``.
    stage 2  ``with_fix_key``     — per-track forward fill of the UTC
             key (``last(ignorenulls)`` over an ordered window).
             Partitioned by ``track_id`` so it scales: one receiver's
             stream is ordered within its partition; there is NO global
             single-partition sort (SURVEY §4.2 watch list).
    stage 3  ``merge_fixes``      — one row per (track_id, fix-second):
             "last non-null wins by arrival order", the reference's
             overwrite-merge, computed with full-frame ordered windows.

Read (``read_nmea_text``), fill, merge and the flagship aggregate share
one hash(``track_id``) shuffle.

Deliberate divergences from reference defects (SURVEY §5.1):
 - GSV multi-part satellites are ACCUMULATED (ref overwrites, ``:261-272``
   — author: "needs fixing").
 - GPGLL uses its own timestamp as the key (ref tags the stale key
   first, ``:203-204``).
 - ``dataStatus`` (called at ``:206`` but never defined in the repo) is
   defined here: A→active, V→void.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from gps_stream_processing_spark.functions.geo import degree2decimal, knots_to_kmh
from gps_stream_processing_spark.functions.nmea import (
    nmea_body,
    nmea_time_to_timestamp,
    sentence_type,
    strip_fractional_seconds,
)

# Every handler's token layout: field → (type, {sentence type: token
# index}); token 0 is the sentence name, as in ``explode(",", $line)``.
# Handlers: GPGGA ``:170-188``, GPGLL ``:201-207``, GPGSA ``:224-244``,
# GPGSV ``:262-272``, GPRMC ``:289-302``, GPVTG ``:317-328``.
FIELD_TOKENS: dict[str, tuple[str, dict[str, int]]] = {
    # GGA :172 / RMC :291 / GLL :204 — GLL keys its own time (defect fix)
    "utc": ("string", {"GPGGA": 1, "GPRMC": 1, "GPGLL": 5}),
    "date": ("string", {"GPRMC": 9}),  # ddmmyy (:297)
    # GPGLL layout is lat,N,lon,W,utc,status (:191 golden)
    "lat": ("double", {"GPGGA": 2, "GPGLL": 1, "GPRMC": 3}),
    "lat_hem": ("string", {"GPGGA": 3, "GPGLL": 2, "GPRMC": 4}),
    "lon": ("double", {"GPGGA": 4, "GPGLL": 3, "GPRMC": 5}),
    "lon_hem": ("string", {"GPGGA": 5, "GPGLL": 4, "GPRMC": 6}),
    "alt_m": ("double", {"GPGGA": 9}),  # (:182)
    "geoid_sep_m": ("double", {"GPGGA": 11}),  # (:184)
    "gps_qual": ("int", {"GPGGA": 6}),  # (:179)
    "num_sat": ("int", {"GPGGA": 7}),  # (:180)
    "hdop": ("double", {"GPGGA": 8, "GPGSA": 16}),  # (:181, :242)
    "pdop": ("double", {"GPGSA": 15}),  # (:241)
    "vdop": ("double", {"GPGSA": 17}),  # (:243)
    "select_mode": ("string", {"GPGSA": 1}),  # (:227)
    "fix_mode": ("string", {"GPGSA": 2}),  # (:228)
    "sats_in_view": ("int", {"GPGSV": 3}),  # (:267)
    "gsv_msgnum": ("int", {"GPGSV": 2}),  # (:266)
    "status": ("string", {"GPGLL": 6}),  # (:206)
    "status_rmc": ("string", {"GPRMC": 2}),  # (:294)
    "speed_knots": ("double", {"GPRMC": 7, "GPVTG": 5}),  # (:295, :324)
    "speed_kmh": ("double", {"GPVTG": 7}),  # (:326); GPRMC derives it from knots
    "track_deg_true": ("double", {"GPRMC": 8, "GPVTG": 1}),  # (:296, :320)
    "track_deg_mag": ("double", {"GPVTG": 3}),  # (:322)
    "mag_var": ("double", {"GPRMC": 10}),  # (:298)
    "mag_var_dir": ("string", {"GPRMC": 11}),  # (:299)
}

KNOWN_TYPES = tuple(sorted({s for _, pos in FIELD_TOKENS.values() for s in pos}))

# Scalar fix fields produced by stage 1 and merged "last non-null wins"
# in stage 3 (field census: SURVEY §1.2).
_SCALAR_FIELDS = (
    "date",
    "lat",
    "lon",
    "alt_m",
    "geoid_sep_m",
    "gps_qual",
    "num_sat",
    "hdop",
    "pdop",
    "vdop",
    "select_mode",
    "fix_mode",
    "sat_prns",
    "sats_in_view",
    "status",
    "status_rmc",
    "speed_knots",
    "speed_kmh",
    "track_deg_true",
    "track_deg_mag",
    "mag_var",
    "mag_var_dir",
)


def _field(stype: Column, toks: Column, kind: str, pos: dict[str, int]) -> Column:
    """Token ``pos[stype]`` (``F.get``: out of range → null, not an ANSI
    error), then one ``try_cast``."""
    tok = F.get(toks, F.create_map(*[F.lit(v) for kv in pos.items() for v in kv])[stype])
    return tok if kind == "string" else tok.try_cast(kind)


def data_status(s: Column) -> Column:
    """A/V decode — the ``dataStatus`` the reference calls at ``:206``
    but never defines; our definition per SURVEY §2.6."""
    return F.when(s == "A", F.lit("active")).when(s == "V", F.lit("void")).otherwise(s)


def parse_sentences(lines: DataFrame) -> DataFrame:
    """Demux + typed per-sentence extraction (stage 1).

    Input: ``NMEA_LINE_SCHEMA`` (line_no, track_id, value). Output: one
    sparse wide row per recognized sentence. The body is split once and
    each token trimmed and blank-nulled once; each scalar field is one
    ``FIELD_TOKENS`` lookup into those tokens, and the GSA PRN list and
    GSV satellite groups are arrays built from them.
    """
    stype, t = F.col("stype"), F.col("toks")
    df = (
        lines.filter(F.col("value").startswith("$"))
        .withColumn("stype", sentence_type(F.col("value")))
        .filter(stype.isin(*KNOWN_TYPES))  # default: return (:112)
        .withColumn("toks", F.transform(F.split(nmea_body(F.col("value")), ","),
                                        lambda x: F.nullif(F.trim(x), F.lit(""))))
        .select("line_no", "track_id", "stype", "toks",
                *[_field(stype, t, k, pos).alias(n) for n, (k, pos) in FIELD_TOKENS.items()])
    )
    # Non-finite numbers (1e309, NaN) → null; Spark orders NaN above +inf.
    # Its own projection, so each cast is evaluated once, not twice.
    c = {n: F.when(F.abs(n) < F.lit(float("inf")), F.col(n)) if k == "double" else F.col(n)
         for n, (k, _) in FIELD_TOKENS.items()}

    def pick(*names: str) -> list[Column]:
        return [c[n].alias(n) for n in names]

    # GPGSV: up to 4 (prn, elev, azim, snr) groups per part (:262-272);
    # kept as an array so stage 3 can ACCUMULATE across parts.
    sat_info_part = F.when(
        stype == "GPGSV",
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda g: F.struct(
                    F.try_element_at(t, g * 4 + 5).try_cast("int").alias("prn"),
                    F.try_element_at(t, g * 4 + 6).try_cast("int").alias("elev"),
                    F.try_element_at(t, g * 4 + 7).try_cast("int").alias("azim"),
                    F.try_element_at(t, g * 4 + 8).try_cast("int").alias("snr"),
                ),
            ),
            lambda s: s["prn"].isNotNull(),
        ),
    )

    return df.select(
        "line_no", "track_id", "stype",
        strip_fractional_seconds(c["utc"]).alias("utc"),  # fixUTC (:391-394)
        *pick("date"),
        degree2decimal(c["lat"], c["lat_hem"]).alias("lat"),  # (:339-351)
        degree2decimal(c["lon"], c["lon_hem"]).alias("lon"),
        *pick("alt_m", "geoid_sep_m", "gps_qual", "num_sat", "hdop", "pdop", "vdop",
              "select_mode", "fix_mode"),
        F.when(
            stype == "GPGSA",
            F.filter(
                F.transform(F.slice(t, 4, 12), lambda x: x.try_cast("int")),
                lambda x: x.isNotNull(),
            ),
        ).alias("sat_prns"),  # sat1..sat12 (:229-240) as array, nulls dropped
        *pick("sats_in_view", "gsv_msgnum"),
        sat_info_part.alias("sat_info_part"),
        data_status(c["status"]).alias("status"),
        *pick("status_rmc", "speed_knots"),
        F.when(stype == "GPRMC", F.round(knots_to_kmh(c["speed_knots"]), 1))
        .otherwise(c["speed_kmh"])
        .alias("speed_kmh"),  # kmh = knots × 1.852
        *pick("track_deg_true", "track_deg_mag", "mag_var", "mag_var_dir"),
    )


def with_fix_key(parsed: DataFrame) -> DataFrame:
    """Stage 2: forward-fill the fix key per track (the reference's
    ``$CurrentUTC`` cursor: timestamp-less GSA/GSV/VTG adopt the most
    recently seen UTC, ``:226,264,319``; the date likewise arrives only
    with GPRMC, ``:300-301``).

    Scale note: the window partitions by ``track_id`` — per-receiver
    arrival order is the only order the semantics need, so a 1000-track
    100 TB stream parallelizes across tracks; no global sort exists.
    """
    w = W.partitionBy("track_id").orderBy("line_no").rowsBetween(W.unboundedPreceding, 0)
    return (
        parsed.withColumn("utc_key", F.last("utc", ignorenulls=True).over(w))
        .withColumn("date_key", F.last("date", ignorenulls=True).over(w))
        .filter(F.col("utc_key").isNotNull())  # pre-key lines have no home record
    )


def merge_fixes(keyed: DataFrame) -> DataFrame:
    """Stage 3: fold all sentences of one (track, fix-second) into one
    typed record — "last non-null wins by arrival order", which is the
    reference's per-field overwrite upsert (``:173-187`` et al.) made
    deterministic (plain ``groupBy().agg(first(...))`` would depend on
    shuffle order).

    One shuffle on (track_id, utc_key); every aggregate below shares the
    same full-frame ordered window so Spark evaluates them in a single
    Window node after that sort.
    """
    wfull = (
        W.partitionBy("track_id", "utc_key")
        .orderBy("line_no")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    merged = keyed.select(
        "track_id",
        "line_no",
        F.col("utc_key").alias("utc"),
        F.last("date_key", ignorenulls=True).over(wfull).alias("date"),
        *[
            F.last(c, ignorenulls=True).over(wfull).alias(c)
            for c in _SCALAR_FIELDS
            if c != "date"
        ],
        F.flatten(
            F.collect_list("sat_info_part").over(wfull)
        ).alias("sat_info"),  # accumulate GSV parts in arrival order (fixes :261-272)
        F.sort_array(F.collect_set("stype").over(wfull)).alias("sentence_types"),  # (:173 etc.)
        F.row_number()
        .over(W.partitionBy("track_id", "utc_key").orderBy("line_no"))
        .alias("_rn"),
    )
    return (
        merged.filter(F.col("_rn") == 1)
        .drop("_rn", "line_no")
        .withColumn("ts", nmea_time_to_timestamp(F.col("utc"), F.col("date")))
    )


def good_enough(fixes: DataFrame) -> DataFrame:
    """``GoodEnough()`` completeness predicate (``:126-129``): record has
    date, utc, lat, long."""
    return fixes.filter(
        F.col("date").isNotNull()
        & F.col("utc").isNotNull()
        & F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
    )


def quality_filter(fixes: DataFrame, min_sats: int = 4, max_hdop: float = 10.0,
                   max_vdop: float = 10.0) -> DataFrame:
    """The reference's *declared but never enforced* filters
    (``SetMinSatellites``/``SetMaxHdop``/``SetMaxVdop``,
    ``:40-42,62-64,75-77``; header: "Filtering not implemented yet"
    ``:13``) — implemented as pushdown-friendly predicates."""
    return fixes.filter(
        (F.col("num_sat") >= min_sats)
        & (F.col("hdop") <= max_hdop)
        & (F.coalesce(F.col("vdop"), F.lit(0.0)) <= max_vdop)
    )


def dop_quality_band(dop: Column) -> Column:
    """DOP quality banding per the reference's spec comment (``:44-50``)."""
    return (
        F.when(dop <= 1, "ideal")
        .when(dop <= 2, "excellent")
        .when(dop <= 5, "good")
        .when(dop <= 10, "moderate")
        .when(dop <= 20, "fair")
        .otherwise("poor")
    )


def gps_fix_pipeline(lines: DataFrame) -> DataFrame:
    """Full batch pipeline: raw lines → typed gps_fix table."""
    return merge_fixes(with_fix_key(parse_sentences(lines)))


def flagship_query(lines: DataFrame) -> DataFrame:
    """Flagship (SURVEY §7 step 1): per-track, per-5-minute windowed
    avg speed / fix count / avg HDOP with quality banding, over
    quality-filtered merged fixes."""
    return flagship_from_fixes(gps_fix_pipeline(lines))


def flagship_from_fixes(merged: DataFrame) -> DataFrame:
    """Flagship aggregation given an already-merged fix table (lets
    callers reuse one cached fix table across queries)."""
    fixes = quality_filter(good_enough(merged))

    # Order-independent mean: double avg() depends on partial-sum order
    # (observed: avg_hdop at the exact 1.5625 half-boundary rounding to
    # 1.562 or 1.563 run-to-run). Per-row DECIMAL(18,6) cast is exact for
    # the fixture's low-precision values; the DECIMAL sum is associative,
    # so every partitioning yields the same quotient. Oracle twin mirrors
    # this (plans/nmea_oracle.py ORACLE_FLAGSHIP).
    def exact_avg(c: str, nd: int):
        return F.round(
            F.sum(F.col(c).cast("decimal(18,6)")).cast("double") / F.count("*"), nd
        )

    return (
        fixes.groupBy(
            "track_id",
            F.window("ts", "5 minutes").alias("win"),
            dop_quality_band(F.col("hdop")).alias("quality"),
        )
        .agg(
            F.count("*").alias("n_fixes"),
            exact_avg("speed_knots", 3).alias("avg_speed_knots"),
            exact_avg("hdop", 3).alias("avg_hdop"),
            exact_avg("num_sat", 3).alias("avg_sats"),
        )
        .select(
            "track_id",
            F.col("win.start").alias("window_start"),
            "quality",
            "n_fixes",
            "avg_speed_knots",
            "avg_hdop",
            "avg_sats",
        )
    )
