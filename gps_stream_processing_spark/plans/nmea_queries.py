"""NMEA-path queries (SURVEY §2.1/§2.2/§2.5/§2.10). These run the
reference's actual domain — the deterministic NMEA fixture stream.
The fixture is committed as ``data/nmea_fixture_3x120.parquet`` (pinned
to the generator by tests/test_nmea_pipeline.py), which lets the DuckDB
oracle re-run the reference's entire pipeline independently in SQL
(plans/nmea_oracle.py) — so these carry FULL value-hash oracles, not
rows-only checks. Golden-sentence values are additionally pinned by
tests/test_nmea_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gps_stream_processing_spark.functions.nmea import nmea_checksum_ok
from gps_stream_processing_spark.operators.gps_fix import (
    flagship_from_fixes,
    good_enough,
    gps_fix_pipeline,
    parse_sentences,
    quality_filter,
)
from gps_stream_processing_spark.plans import nmea_oracle as _orc
from gps_stream_processing_spark.plans.registry import register, table
from gps_stream_processing_spark.session import scoped_conf
from gps_stream_processing_spark.sources.nmea import nmea_fixture_df

# One deterministic fixture shape for every NMEA query (seed pinned in
# the generator): 3 tracks × 120 s ≈ 2.4k sentences.
_FIXTURE_KW = dict(n_tracks=3, n_seconds=120)


def _fixture(spark: SparkSession) -> DataFrame:
    # createDataFrame beats scanning the committed parquet here: the
    # local relation skips the columnar-scan codegen stage (~2.4s cold
    # in bench, measured), and 2.2k rows serialize through py4j in
    # milliseconds. The parquet twin exists for the DuckDB oracles
    # (plans/nmea_oracle.py), pinned bit-identical by pytest.
    return nmea_fixture_df(spark, **_FIXTURE_KW)


# Session-keyed memo of the merged fix table: 5 of the NMEA queries
# consume the same parse→forward-fill→merge pipeline over the same
# fixture; without this each re-runs all three stages (~1-2 s each in
# bench). The cached table is a few thousand narrow rows.
_MERGED_CACHE: dict[str, DataFrame] = {}


def _merged(spark: SparkSession) -> DataFrame:
    # applicationId is unique per SparkContext (id(spark) could be
    # reused by the allocator after a session is stopped and GC'd)
    key = spark.sparkContext.applicationId
    if key not in _MERGED_CACHE:
        _MERGED_CACHE[key] = gps_fix_pipeline(_fixture(spark)).persist()
    return _MERGED_CACHE[key]


@register(
    "q_nmea_parse",
    oracle=_orc.ORACLE_NMEA_PARSE,
    doc="The reference's entire engine end-to-end (ParseLine → demux → "
    "extract → $CurrentUTC forward-fill → upsert-merge; "
    "class.nmea.parser.php:103-114,170-328): raw sentence stream → typed "
    "gps_fix table. Arrays projected to stable scalars for the driver's "
    "schema check.",
)
def q_nmea_parse(spark: SparkSession, sf: str) -> DataFrame:
    fixes = _merged(spark)
    return fixes.select(
        "track_id",
        "utc",
        "ts",
        "lat",
        "lon",
        "alt_m",
        "gps_qual",
        "num_sat",
        "hdop",
        "pdop",
        "vdop",
        "speed_knots",
        "speed_kmh",
        "track_deg_true",
        F.size("sat_prns").alias("n_sat_prns"),
        F.size("sat_info").alias("n_sat_info"),
        F.array_join("sentence_types", ",").alias("sentence_types_csv"),
    )


@register(
    "q_fix_complete",
    oracle=_orc.ORACLE_FIX_COMPLETE,
    doc="GoodEnough() completeness predicate (class.nmea.parser.php:"
    "126-129) + the declared-but-unenforced quality filters (:40-77) "
    "applied to the merged fix table.",
)
def q_fix_complete(spark: SparkSession, sf: str) -> DataFrame:
    fixes = quality_filter(good_enough(_merged(spark)))
    return fixes.select("track_id", "utc", "ts", "lat", "lon", "num_sat", "hdop")


@register(
    "q_nmea_checksum",
    oracle=_orc.ORACLE_CHECKSUM,
    doc="NMEA checksum validation (XOR fold between $ and *, no UDF — "
    "SURVEY §2.6): per-sentence-type validity counts over the fixture "
    "(malformed lines fail, golden lines pass).",
)
def q_nmea_checksum(spark: SparkSession, sf: str) -> DataFrame:
    raw = _fixture(spark)
    return (
        raw.select(
            F.upper(F.trim(F.substring("value", 2, 5))).alias("stype"),
            nmea_checksum_ok(F.col("value")).alias("ok"),
        )
        .groupBy("stype", "ok")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_nmea_flagship",
    oracle=_orc.ORACLE_FLAGSHIP,
    doc="Flagship windowed query (SURVEY §7 step 1): per-track 5-minute "
    "avg speed / fix count / DOP quality banding over quality-filtered "
    "merged fixes.",
)
def q_nmea_flagship(spark: SparkSession, sf: str) -> DataFrame:
    return flagship_from_fixes(_merged(spark))


@register(
    "q_track_speed",
    oracle=_orc.ORACLE_TRACK_SPEED,
    doc="GPS analytics (SURVEY §7 step 4): speed-from-positions — "
    "haversine over successive fixes / Δt — cross-checked against the "
    "receiver-reported GPRMC speed (class.nmea.parser.php:295), with "
    "bearing per step. Per-track window, single shuffle.",
)
def q_track_speed(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W

    from gps_stream_processing_spark.functions.geo import bearing_deg, haversine_km

    fixes = good_enough(_merged(spark))
    w = W.partitionBy("track_id").orderBy("ts")
    steps = fixes.select(
        "track_id",
        "ts",
        "lat",
        "lon",
        "speed_knots",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
        F.lag("ts").over(w).alias("pts"),
    ).filter(F.col("plat").isNotNull())
    dt_h = (F.col("ts").cast("double") - F.col("pts").cast("double")) / 3600.0
    dist = haversine_km(F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon"))
    return steps.select(
        "track_id",
        "ts",
        F.round(dist, 6).alias("step_km"),
        F.round(dist / dt_h / F.lit(1.852), 3).alias("derived_speed_knots"),
        F.col("speed_knots").alias("reported_speed_knots"),
        F.round(
            bearing_deg(F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon")), 3
        ).alias("bearing"),
    )


@register(
    "q_grid_density",
    oracle=_orc.ORACLE_GRID_DENSITY,
    doc="Grid-cell density (heatmap tiles — SURVEY §2.6 GPS analytics, "
    "ext): good fixes bucketed into ~500 m lat/lon cells "
    "(floor(coord/0.005) — IEEE-deterministic on both engines), with "
    "fix count, distinct-track count, and DECIMAL-stable mean speed "
    "per cell. One hash-agg on the cell key; at 100 TB the cell id is "
    "also the natural on-disk partition key for tile serving.",
)
def q_grid_density(spark: SparkSession, sf: str) -> DataFrame:
    fixes = good_enough(_merged(spark))
    cell = 0.005
    return (
        fixes.groupBy(
            F.floor(F.col("lat") / cell).cast("bigint").alias("cell_lat"),
            F.floor(F.col("lon") / cell).cast("bigint").alias("cell_lon"),
        )
        .agg(
            F.count("*").alias("n_fixes"),
            F.countDistinct("track_id").alias("n_tracks"),
            F.round(
                F.sum(F.col("speed_knots").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                3,
            ).alias("avg_speed_knots"),
        )
    )


def spatial_pairs(
    fixes_in: DataFrame, cell: float = 3.0, radius_km: float = 200.0
) -> DataFrame:
    """Grid-binned proximity self-join over (track_id, lat, lon) rows.

    Cell coverage must hold on BOTH axes, so the latitude envelope is
    DERIVED from (cell, radius_km), not hardcoded: a degree of
    longitude is ~111.32*cos(lat) km, so lon cells cover the radius
    only for |lat| <= acos(radius / (111.32*cell)) — ≈53° at the
    3.0°/200 km defaults. The lat axis (~110.57 km/deg everywhere) is
    checked once at plan time; and within one cell of the antimeridian
    the neighbor-cell offsets don't wrap (a pair straddling ±180°
    would be silently dropped). assert_true makes data outside the
    envelope fail LOUDLY at execution instead of under-joining.
    JVM-side, no extra job: assert_true yields NULL for passing rows,
    so the isNull filter keeps every (valid) row."""
    import math

    from gps_stream_processing_spark.functions.geo import haversine_km

    if 110.57 * cell < radius_km:
        raise ValueError(
            f"spatial_pairs: cell={cell}° is only {110.57 * cell:.0f} km "
            f"on the latitude axis — cannot cover radius_km={radius_km}"
        )
    cos_bound = radius_km / (111.32 * cell)
    lat_max = math.degrees(math.acos(min(cos_bound, 1.0)))
    fixes = fixes_in.select(
        "track_id", "lat", "lon",
        F.floor(F.col("lat") / cell).cast("long").alias("cl"),
        F.floor(F.col("lon") / cell).cast("long").alias("co"),
    ).filter(
        F.assert_true(
            (F.abs(F.col("lat")) <= F.lit(round(lat_max, 6)))
            & (F.abs(F.col("lon")) <= F.lit(180.0 - cell)),
            F.lit(f"spatial_pairs: fix outside the grid envelope "
                  f"(|lat| > {lat_max:.1f} breaks the {cell}-degree "
                  f"cell coverage of the {radius_km} km radius; "
                  f"|lon| > {180.0 - cell} would need antimeridian "
                  f"cell wrap) — re-derive the cell geometry for "
                  f"this data"),
        ).isNull()
    )
    off = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    )
    left = fixes.select(
        F.col("track_id").alias("track_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        "cl", "co", off.alias("o"),
    ).select(
        "track_a", "lat_a", "lon_a",
        (F.col("cl") + F.col("o.dx")).alias("jcl"),
        (F.col("co") + F.col("o.dy")).alias("jco"),
    )
    right = fixes.select(
        F.col("track_id").alias("track_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.col("cl").alias("jcl"),
        F.col("co").alias("jco"),
    )
    dist = haversine_km(
        F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
    )
    return (
        left.join(right, ["jcl", "jco"])
        .filter((F.col("track_a") < F.col("track_b")) & (dist <= radius_km))
        .groupBy(F.col("track_a"), F.col("track_b"))
        .agg(
            F.count("*").alias("n_near_pairs"),
            F.round(F.min(dist), 6).alias("min_dist_km"),
        )
    )


@register(
    "q_join_spatial",
    oracle=_orc.ORACLE_JOIN_SPATIAL,
    doc="Grid-binned spatial proximity join (SURVEY §2.3, ext): pairs "
    "of fixes from two different tracks within 200 km (the fixture's "
    "track pairs sit at ~149/161/305 km, so the radius discriminates). "
    "Cell size must cover the radius on BOTH axes: a degree of "
    "longitude is 111.32*cos(lat) km, so at the fixture's <=51°N a "
    "3.0-degree cell is >=210 km — any qualifying pair is in the same "
    "or an adjacent cell. One side explodes its 3x3 cell neighborhood, "
    "the equi-join runs on the cell id — each pair matches exactly "
    "once since the plain side is in exactly one cell — and exact "
    "haversine refines; data outside the cell-geometry envelope "
    "(poleward of 53° or within a cell of the antimeridian) fails "
    "loudly via assert_true instead of under-joining (spatial_pairs). "
    "The DuckDB oracle is the naive quadratic theta join: same result, "
    "the scale contrast (the q_join_range/_binned pairing, spatially). "
    "At 100 TB the cell id is the shuffle key — O(9n) rows, never n^2.",
)
def q_join_spatial(spark: SparkSession, sf: str) -> DataFrame:
    return spatial_pairs(good_enough(_merged(spark)))


@register(
    "q_pandas_udf",
    oracle=_orc.ORACLE_PANDAS_UDF,
    doc="Sanctioned Arrow-vectorized scalar pandas_udf (SURVEY §2.10): "
    "numpy haversine over per-fix successive positions, cross-checked "
    "against the pure-column implementation in pytest.",
)
def q_pandas_udf(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W

    from gps_stream_processing_spark.functions.pandas_udfs import haversine_km_np as hav_np

    fixes = good_enough(_merged(spark))
    w = W.partitionBy("track_id").orderBy("ts")
    steps = fixes.select(
        "track_id",
        "ts",
        "lat",
        "lon",
        F.lag("lat").over(w).alias("plat"),
        F.lag("lon").over(w).alias("plon"),
    ).filter(F.col("plat").isNotNull())
    return steps.select(
        "track_id",
        "ts",
        F.round(hav_np("plat", "plon", "lat", "lon"), 6).alias("step_km"),
    )


@register(
    "q_udtf_gsv",
    oracle=_orc.ORACLE_UDTF_GSV,
    doc="Python UDTF (SURVEY §2.10): one GSV sentence → one row per "
    "satellite, the set-returning fix for the reference's multi-part "
    "overwrite bug (class.nmea.parser.php:261-272).",
)
def q_udtf_gsv(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="prn int, elev int, azim int, snr int")
    class GsvExpand:
        def eval(self, line: str):
            if not line or not line.startswith("$GPGSV"):
                return
            body = line[1:].split("*")[0]
            toks = body.split(",")
            for g in range(4):
                grp = toks[4 + g * 4 : 8 + g * 4]
                if len(grp) == 4 and grp[0].strip():
                    try:
                        yield tuple(int(x) for x in grp)
                    except ValueError:
                        continue

    spark.udtf.register("gsv_expand", GsvExpand)
    raw = _fixture(spark).filter(F.col("value").startswith("$GPGSV"))
    raw.createOrReplaceTempView("gsv_lines")
    return spark.sql(
        """
        SELECT l.line_no, l.track_id, s.prn, s.elev, s.azim, s.snr
        FROM gsv_lines l, LATERAL gsv_expand(l.value) s
        """
    )


@register(
    "q_pandas_grouped_agg",
    oracle=_orc.ORACLE_TRIMMED_MEAN,
    doc="Grouped-aggregate pandas UDF (SURVEY §2.10): per-track 10% "
    "trimmed mean of speed over the merged fixes — an aggregate Spark "
    "has no builtin for, computed in one Arrow batch per group.",
)
def q_pandas_grouped_agg(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.functions.pandas_udfs import trimmed_mean_10

    fixes = good_enough(_merged(spark))
    return (
        fixes.groupBy("track_id")
        .agg(F.round(trimmed_mean_10("speed_knots"), 6).alias("trimmed_mean_speed"))
    )


@register(
    "q_pandas_udf_iter",
    # Association mirrors the UDF exactly: (0.5*q) + (2.0*(ep*(1-d))),
    # both sides left-to-right IEEE doubles; rounding applied OUTSIDE
    # the UDF on both sides (F.round vs ROUND — the q_pandas_udf
    # precedent).
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(0.5 * l_quantity
                 + 2.0 * (l_extendedprice * (1 - l_discount)), 6) AS score
    FROM lineitem WHERE l_orderkey % 20 = 0
    """,
    doc="Iterator-style scalar pandas UDF (SCALAR_ITER, SURVEY §2.10 "
    "ext): per-task amortized setup — the 'load the model once, stream "
    "every Arrow batch through it' shape of LLM-inference enrichment "
    "pipelines. The weight-vector load runs once per task regardless "
    "of batch count (pytest pins setup-per-task via an accumulator "
    "with maxRecordsPerBatch forced small); a plain scalar pandas UDF "
    "re-enters per batch with nowhere to hang loaded state. At 100 TB "
    "this is THE difference between loading a tokenizer 10^6 times "
    "(per batch) and 10^3 times (per task).",
)
def q_pandas_udf_iter(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.functions.pandas_udfs import charge_score_iter

    li = table(spark, sf, "lineitem").filter(F.col("l_orderkey") % 20 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            charge_score_iter("l_quantity", "l_extendedprice", "l_discount"), 6
        ).alias("score"),
    )


@register(
    "q_udtf_analyze",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_quantity /
                 (l_quantity + l_extendedprice + (l_discount + 1)), 6)
             AS l_quantity_frac,
           ROUND(l_extendedprice /
                 (l_quantity + l_extendedprice + (l_discount + 1)), 6)
             AS l_extendedprice_frac,
           ROUND((l_discount + 1) /
                 (l_quantity + l_extendedprice + (l_discount + 1)), 6)
             AS shifted_discount_frac
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
    doc="Polymorphic Python UDTF with analyze() (Spark 4, SURVEY "
    "§2.10): the UDTF derives its OUTPUT SCHEMA from the input "
    "struct's fields at plan time (one `<field>_frac` column per "
    "numeric input — schema-on-call, the table-function analog of "
    "schema inference), then row-normalizes each tuple. Static-"
    "returnType UDTFs (q_udtf_gsv) can't express this; analyze() is "
    "what lets one UDTF serve any struct width. Arrow-evaluated "
    "(pythonUDTF.arrow.enabled rides tune_session); fraction "
    "arithmetic mirrors left-to-right IEEE order on both sides → "
    "full oracle. Python round() is banker's vs DuckDB half-up, but "
    "the fractions are non-terminating binary rationals — an exact "
    "6-dp midpoint cannot occur.",
)
def q_udtf_analyze(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class NormalizeRow:
        @staticmethod
        def analyze(arg: AnalyzeArgument) -> AnalyzeResult:
            schema = StructType()
            for f in arg.dataType.fields:
                schema.add(f.name + "_frac", "double")
            return AnalyzeResult(schema=schema)

        def eval(self, row):
            vals = [float(v) for v in row]
            s = 0.0
            for v in vals:  # left-to-right, same order as the SQL sum
                s += v
            yield tuple(round(v / s, 6) if s else None for v in vals)

    # This UDTF is 3x FASTER pickle-evaluated than Arrow-evaluated
    # (warm medians 0.67s vs 2.04s at sf0.1/local[32], r12): it takes
    # a 3-field STRUCT arg and yields one small tuple per row, so the
    # Arrow path pays per-batch struct-column assembly + pandas
    # conversion with no vectorization to amortize it (contrast
    # q_udtf_gsv, which fans out rows and measures faster under
    # Arrow). Pin the pickle path for this key; the session default
    # (tune_session) stays arrow.enabled=true.
    with scoped_conf(
        spark, {"spark.sql.execution.pythonUDTF.arrow.enabled": "false"}
    ):
        spark.udtf.register("normalize_row", udtf(NormalizeRow))
        li = table(spark, sf, "lineitem").filter(
            F.col("l_orderkey") % 50 == 0
        )
        li.createOrReplaceTempView("_udtf_an_lineitem")
        out = spark.sql(
            """
            SELECT l.l_orderkey, l.l_linenumber, n.*
            FROM _udtf_an_lineitem l,
            LATERAL normalize_row(struct(
                l.l_quantity,
                l.l_extendedprice,
                l.l_discount + 1 AS shifted_discount
            )) n
            """
        )
        spark.catalog.dropTempView("_udtf_an_lineitem")
        return out


@register(
    "q_udtf_table_arg",
    # All durations in whole seconds via integer floor-div of exact
    # microsecond deltas (timedelta // timedelta(seconds=1) on the
    # engine side; epoch_us // 1000000 in the oracle) — no float
    # rounding anywhere. max_gap is order-insensitive under ts ties:
    # equal timestamps sort adjacently whatever the tiebreak, so the
    # multiset of consecutive diffs is invariant.
    oracle="""
    WITH e AS (SELECT user_id, ts, event_id FROM events WHERE user_id % 5 = 0),
    g AS (
      SELECT user_id, ts,
             (epoch_us(ts) - epoch_us(
                lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             )) // 1000000 AS gap
      FROM e
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS span_sec,
           CAST(MAX(gap) AS BIGINT) AS max_gap_sec
    FROM g GROUP BY user_id
    """,
    doc="Polymorphic UDTF with TABLE argument + PARTITION BY ... ORDER "
    "BY (Spark 4, SURVEY §2.10 ext): the table-valued, partition-aware "
    "UDTF surface — Spark shuffles the input on the PARTITION BY key, "
    "sorts each group by the ORDER BY, instantiates the class once per "
    "key, streams eval() the ordered rows, and terminate() emits the "
    "per-key summary. This is the sanctioned home for sequential "
    "per-key logic (session stitching, order-dependent state machines) "
    "that a grouped-agg pandas UDF can't stream and a window function "
    "can't hold state across. Oracle: the same per-user count/span/"
    "max-consecutive-gap as window SQL.",
)
def q_udtf_table_arg(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n_events bigint, span_sec bigint, "
          "max_gap_sec bigint")
    class UserSpan:
        def __init__(self) -> None:
            self.user = None
            self.n = 0
            self.first = None
            self.prev = None
            self.max_gap = None

        def eval(self, row):
            from datetime import timedelta

            self.user = row["user_id"]
            ts = row["ts"]
            self.n += 1
            if self.first is None:
                self.first = ts
            else:
                gap = (ts - self.prev) // timedelta(seconds=1)
                if self.max_gap is None or gap > self.max_gap:
                    self.max_gap = gap
            self.prev = ts

        def terminate(self):
            from datetime import timedelta

            if self.user is not None:
                span = (self.prev - self.first) // timedelta(seconds=1)
                yield self.user, self.n, span, self.max_gap

    spark.udtf.register("user_span", UserSpan)
    ev = table(spark, sf, "events").filter(F.col("user_id") % 5 == 0).select(
        "user_id", "ts", "event_id"
    )
    ev.createOrReplaceTempView("_udtf_tab_events")
    out = spark.sql(
        """
        SELECT * FROM user_span(
          TABLE(_udtf_tab_events) PARTITION BY user_id ORDER BY (ts, event_id)
        )
        """
    )
    spark.catalog.dropTempView("_udtf_tab_events")
    return out


@register(
    "q_geo_dbscan",
    oracle=_orc.ORACLE_GEO_DBSCAN,
    doc="Grid-DBSCAN spatial clusters (SURVEY §2.6 GPS analytics ext — "
    "the clustering step above q_grid_density's heatmap: stops, "
    "depots, and hot zones emerge as density-connected cell groups): "
    "cells with ≥ 15 good fixes are core; core cells adjacent in the "
    "8-neighborhood are density-connected; clusters are the connected "
    "components of that adjacency (operators/connected_components.py, "
    "min-label propagation), sub-threshold cells report NULL (noise). "
    "This is the standard grid approximation of DBSCAN (cell size = "
    "eps) that replaces the quadratic point-pair eps-join with a "
    "cell hash-agg + a CELL-sized 9-stamp equi-join — at 100 TB the "
    "fix table is scanned once and everything after is bounded by "
    "the number of occupied ~500 m cells, and the neighbor join is "
    "an exact-key join (no θ-join) that AQE can plan like any other. "
    "Full oracle via the recursive-CTE reachability closure.",
)
def q_geo_dbscan(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.operators.connected_components import (
        connected_components,
    )

    cell = 0.005
    min_pts = 15
    cells = (
        good_enough(_merged(spark))
        .groupBy(
            F.floor(F.col("lat") / cell).cast("bigint").alias("cell_lat"),
            F.floor(F.col("lon") / cell).cast("bigint").alias("cell_lon"),
        )
        .agg(F.count("*").cast("bigint").alias("n_fixes"))
        # the cell table has three consumers (core filter, the final
        # left join, and — via core — both CC inputs); eagerly
        # materializing it pins the fix pipeline to ONE pass
        .localCheckpoint(eager=True)
    )
    key = (F.col("cell_lat") * 100000 + F.col("cell_lon")).alias("k")
    core = cells.filter(F.col("n_fixes") >= min_pts).select(
        key, "cell_lat", "cell_lon"
    )
    # 8-neighborhood as a 9-stamp equi-join: each core cell emits its
    # 8 neighbor coordinates (broadcast 8-row offset table), matched
    # back against core on the EXACT cell key — no θ-join anywhere
    offs = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
         if (dx, dy) != (0, 0)],
        "dx int, dy int",
    )
    nbr = core.crossJoin(F.broadcast(offs)).select(
        F.col("k").alias("src"),
        (
            (F.col("cell_lat") + F.col("dx")) * 100000
            + (F.col("cell_lon") + F.col("dy"))
        ).alias("dst"),
    )
    edges = nbr.join(
        core.select(F.col("k").alias("dst")), "dst"
    ).select("src", "dst")
    comp = connected_components(
        core.select(F.col("k").alias("id")), edges
    )
    return cells.join(
        comp.select(
            F.col("id").alias("k"), F.col("component").alias("cluster_id")
        ),
        cells.cell_lat * 100000 + cells.cell_lon == F.col("k"),
        "left",
    ).select("cell_lat", "cell_lon", "n_fixes", "cluster_id")
