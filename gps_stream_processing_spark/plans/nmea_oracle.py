"""DuckDB SQL twin of the NMEA pipeline (SURVEY §2.5, §5.2.1).

The committed fixture parquet (``data/nmea_fixture_3x120.parquet``, pinned
to ``generate_nmea_rows(n_tracks=3, n_seconds=120, seed=42)`` by
``tests/test_nmea_pipeline.py``) lets the driver's DuckDB oracle re-run
the reference's entire dataflow — demux (``class.nmea.parser.php:105-113``),
per-sentence tokenize/project (``:170-328``), ``degree2decimal``
(``:339-351``), ``fixUTC`` (``:391-394``), ``$CurrentUTC`` forward-fill
(``:172,226,264,319``), per-second upsert-merge (``:173-187``) and
``NMEAtoUnixTime`` (``:86-95``) — **independently in SQL**, so the NMEA
queries get full value-hash oracles instead of rows-only checks.

Token positions are spelled out here on purpose, handler by handler,
rather than read from ``operators/gps_fix.FIELD_TOKENS``: this module is
the independent check of that table, so it imports nothing from the
program's parse (Spark 0-based ``F.get(toks, i)`` == DuckDB 1-based
``t[i+1]``). Rounding is identical on both sides (``round(_, 6)``), and
so is the non-finite rule: a numeric token that is ±inf or NaN is null.
"""

from __future__ import annotations

from gps_stream_processing_spark.sources.nmea import fixture_parquet_path


def _tok(i: int) -> str:
    """Spark 0-based token ``i`` → DuckDB 1-based list index; blank → null."""
    return f"nullif(trim(t[{i + 1}]), '')"


def _num(i: int) -> str:
    """Token ``i`` as a finite DOUBLE; ±inf and NaN → null."""
    x = f"try_cast({_tok(i)} AS DOUBLE)"
    return f"CASE WHEN isfinite({x}) THEN {x} END"


def _int(i: int) -> str:
    return f"try_cast({_tok(i)} AS INTEGER)"


def _deg2dec(x: str, hem: str) -> str:
    """degree2decimal (class.nmea.parser.php:339-351): deg=int(x/100);
    dec=deg+(x-deg*100)/60; negate S/W; round 6."""
    d = f"(floor({x}/100) + ({x} - floor({x}/100)*100)/60.0)"
    return f"round(CASE WHEN upper({hem}) IN ('S','W') THEN -{d} ELSE {d} END, 6)"


def _last_nn(c: str) -> str:
    """'last non-null wins by arrival order' — the reference's per-field
    overwrite upsert (class.nmea.parser.php:173-187) as a DuckDB ordered
    aggregate; twin of Spark's last(c, ignorenulls=True) over the
    full-frame line_no window."""
    return f"last({c} ORDER BY line_no) FILTER (WHERE {c} IS NOT NULL)"


def raw_cte() -> str:
    return f"""
raw AS (
  SELECT line_no, track_id, value
  FROM read_parquet('{fixture_parquet_path()}')
)"""


def fixes_cte() -> str:
    """WITH-chain ending in ``fixes``: the merged gps_fix table (one row
    per track × fix-second) with every field the NMEA queries consume."""
    n_group = " + ".join(
        f"(CASE WHEN try_cast(nullif(trim(t[{5 + 4 * g}]), '') AS INTEGER)"
        " IS NOT NULL THEN 1 ELSE 0 END)"
        for g in range(4)
    )
    return f"""
WITH {raw_cte()},
typed AS (
  -- SetNmeaType demux (:137-140); unknown types dropped (default: return, :112)
  SELECT line_no, track_id,
         upper(trim(substr(value, 2, 5))) AS stype,
         string_split(split_part(substr(value, 2, 1048576), '*', 1), ',') AS t
  FROM raw
  WHERE value LIKE '$%'
    AND upper(trim(substr(value, 2, 5))) IN
        ('GPGGA','GPGLL','GPGSA','GPGSV','GPRMC','GPVTG')
),
parsed AS (
  -- per-sentence tokenize/project, token positions per the handlers
  -- (GPGGA :170-188, GPGLL :201-207, GPGSA :224-244, GPGSV :262-272,
  --  GPRMC :289-302, GPVTG :317-328); fixUTC strips fractions (:391-394)
  SELECT line_no, track_id, stype,
    nullif(split_part(CASE WHEN stype IN ('GPGGA','GPRMC') THEN {_tok(1)}
                           WHEN stype = 'GPGLL' THEN {_tok(5)} END,
                      '.', 1), '') AS utc,
    CASE WHEN stype = 'GPRMC' THEN {_tok(9)} END AS date,
    CASE WHEN stype = 'GPGGA' THEN {_deg2dec(_num(2), _tok(3))}
         WHEN stype = 'GPGLL' THEN {_deg2dec(_num(1), _tok(2))}
         WHEN stype = 'GPRMC' THEN {_deg2dec(_num(3), _tok(4))} END AS lat,
    CASE WHEN stype = 'GPGGA' THEN {_deg2dec(_num(4), _tok(5))}
         WHEN stype = 'GPGLL' THEN {_deg2dec(_num(3), _tok(4))}
         WHEN stype = 'GPRMC' THEN {_deg2dec(_num(5), _tok(6))} END AS lon,
    CASE WHEN stype = 'GPGGA' THEN {_num(9)} END AS alt_m,
    CASE WHEN stype = 'GPGGA' THEN {_int(6)} END AS gps_qual,
    CASE WHEN stype = 'GPGGA' THEN {_int(7)} END AS num_sat,
    CASE WHEN stype = 'GPGGA' THEN {_num(8)}
         WHEN stype = 'GPGSA' THEN {_num(16)} END AS hdop,
    CASE WHEN stype = 'GPGSA' THEN {_num(15)} END AS pdop,
    CASE WHEN stype = 'GPGSA' THEN {_num(17)} END AS vdop,
    CASE WHEN stype = 'GPGSA' THEN CAST(len(list_filter(
           list_transform(t[4:15], x -> try_cast(nullif(trim(x), '') AS INTEGER)),
           x -> x IS NOT NULL)) AS INTEGER) END AS n_prns,
    CASE WHEN stype = 'GPRMC' THEN {_num(7)}
         WHEN stype = 'GPVTG' THEN {_num(5)} END AS speed_knots,
    CASE WHEN stype = 'GPVTG' THEN {_num(7)}
         WHEN stype = 'GPRMC' THEN round({_num(7)} * 1.852, 1) END AS speed_kmh,
    CASE WHEN stype = 'GPRMC' THEN {_num(8)}
         WHEN stype = 'GPVTG' THEN {_num(1)} END AS track_deg_true,
    CASE WHEN stype = 'GPGSV' THEN CAST({n_group} AS INTEGER) END AS n_sat_groups
  FROM typed
),
keyed AS (
  -- $CurrentUTC / date forward-fill per track (:172,226,264,319; :300-301)
  SELECT *,
    last_value(utc IGNORE NULLS) OVER (
      PARTITION BY track_id ORDER BY line_no
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS utc_key,
    last_value(date IGNORE NULLS) OVER (
      PARTITION BY track_id ORDER BY line_no
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS date_key
  FROM parsed
  QUALIFY utc_key IS NOT NULL
),
merged AS (
  SELECT track_id, utc_key AS utc,
    {_last_nn('date_key')} AS date,
    {_last_nn('lat')} AS lat,
    {_last_nn('lon')} AS lon,
    {_last_nn('alt_m')} AS alt_m,
    {_last_nn('gps_qual')} AS gps_qual,
    {_last_nn('num_sat')} AS num_sat,
    {_last_nn('hdop')} AS hdop,
    {_last_nn('pdop')} AS pdop,
    {_last_nn('vdop')} AS vdop,
    {_last_nn('speed_knots')} AS speed_knots,
    {_last_nn('speed_kmh')} AS speed_kmh,
    {_last_nn('track_deg_true')} AS track_deg_true,
    {_last_nn('n_prns')} AS n_sat_prns,
    CAST(coalesce(sum(n_sat_groups), 0) AS INTEGER) AS n_sat_info,
    array_to_string(list_sort(list(DISTINCT stype)), ',') AS sentence_types_csv,
    min(line_no) AS first_line
  FROM keyed GROUP BY track_id, utc_key
),
fixes AS (
  -- NMEAtoUnixTime (:86-95): ddmmyy + hhmmss, POSIX 2-digit-year pivot
  SELECT *,
    make_timestamp(
      CAST(CASE WHEN try_cast(substr(date, 5, 2) AS INTEGER) >= 69
                THEN try_cast(substr(date, 5, 2) AS INTEGER) + 1900
                ELSE try_cast(substr(date, 5, 2) AS INTEGER) + 2000 END AS BIGINT),
      CAST(try_cast(substr(date, 3, 2) AS INTEGER) AS BIGINT),
      CAST(try_cast(substr(date, 1, 2) AS INTEGER) AS BIGINT),
      CAST(try_cast(substr(utc, 1, 2) AS INTEGER) AS BIGINT),
      CAST(try_cast(substr(utc, 3, 2) AS INTEGER) AS BIGINT),
      try_cast(substr(utc, 5, 2) AS DOUBLE)) AS ts
  FROM merged
),
good AS (
  -- GoodEnough() (:126-129): date, utc, lat, long present
  SELECT * FROM fixes
  WHERE date IS NOT NULL AND utc IS NOT NULL
    AND lat IS NOT NULL AND lon IS NOT NULL
),
qual AS (
  -- the declared-but-unenforced filters (:40-77) as predicates
  SELECT * FROM good
  WHERE num_sat >= 4 AND hdop <= 10 AND coalesce(vdop, 0.0) <= 10
)"""


def _haversine(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Same expression tree as functions/geo.py::haversine_km."""
    a = (
        f"pow(sin(radians({lat2} - {lat1})/2), 2)"
        f" + cos(radians({lat1}))*cos(radians({lat2}))"
        f"*pow(sin(radians({lon2} - {lon1})/2), 2)"
    )
    return f"(2.0*6371.0) * asin(least(1.0, sqrt({a})))"


def _bearing(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Same expression tree as functions/geo.py::bearing_deg."""
    y = f"sin(radians({lon2} - {lon1}))*cos(radians({lat2}))"
    x = (
        f"cos(radians({lat1}))*sin(radians({lat2}))"
        f" - sin(radians({lat1}))*cos(radians({lat2}))*cos(radians({lon2} - {lon1}))"
    )
    return f"(degrees(atan2({y}, {x})) + 360.0) % 360.0"


ORACLE_NMEA_PARSE = fixes_cte() + """
SELECT track_id, utc, ts, lat, lon, alt_m, gps_qual, num_sat, hdop, pdop, vdop,
       speed_knots, speed_kmh, track_deg_true, n_sat_prns, n_sat_info,
       sentence_types_csv
FROM fixes
"""

ORACLE_FIX_COMPLETE = fixes_cte() + """
SELECT track_id, utc, ts, lat, lon, num_sat, hdop FROM qual
"""

ORACLE_FLAGSHIP = fixes_cte() + """
SELECT track_id,
       make_timestamp(CAST(floor(epoch(ts)/300)*300*1000000 AS BIGINT)) AS window_start,
       CASE WHEN hdop <= 1 THEN 'ideal' WHEN hdop <= 2 THEN 'excellent'
            WHEN hdop <= 5 THEN 'good' WHEN hdop <= 10 THEN 'moderate'
            WHEN hdop <= 20 THEN 'fair' ELSE 'poor' END AS quality,
       CAST(COUNT(*) AS BIGINT) AS n_fixes,
       round(CAST(sum(CAST(speed_knots AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 3) AS avg_speed_knots,
       round(CAST(sum(CAST(hdop AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 3) AS avg_hdop,
       round(CAST(sum(CAST(num_sat AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 3) AS avg_sats
FROM qual GROUP BY 1, 2, 3
"""

_STEPS_CTE = (
    fixes_cte()
    + """,
steps AS (
  SELECT track_id, ts, lat, lon, speed_knots,
         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon, lag(ts) OVER w AS pts
  FROM good WINDOW w AS (PARTITION BY track_id ORDER BY ts)
)"""
)

ORACLE_TRACK_SPEED = _STEPS_CTE + f"""
SELECT track_id, ts,
       round({_haversine('plat', 'plon', 'lat', 'lon')}, 6) AS step_km,
       round({_haversine('plat', 'plon', 'lat', 'lon')}
             / ((epoch(ts) - epoch(pts))/3600.0) / 1.852, 3) AS derived_speed_knots,
       speed_knots AS reported_speed_knots,
       round({_bearing('plat', 'plon', 'lat', 'lon')}, 3) AS bearing
FROM steps WHERE plat IS NOT NULL
"""

ORACLE_PANDAS_UDF = _STEPS_CTE + f"""
SELECT track_id, ts,
       round({_haversine('plat', 'plon', 'lat', 'lon')}, 6) AS step_km
FROM steps WHERE plat IS NOT NULL
"""

# trimmed_mean_10 (functions/pandas_udfs.py): drop k = int(0.1*n) values
# from each end of the sorted non-null speeds (keep all when n <= 2k).
ORACLE_TRIMMED_MEAN = (
    fixes_cte()
    + """,
rk AS (
  SELECT track_id, speed_knots,
         row_number() OVER (PARTITION BY track_id ORDER BY speed_knots) AS rn,
         COUNT(*) OVER (PARTITION BY track_id) AS n
  FROM good WHERE speed_knots IS NOT NULL
)
SELECT track_id, round(avg(speed_knots), 6) AS trimmed_mean_speed
FROM rk
WHERE n <= 2*CAST(floor(n*0.1) AS BIGINT)
   OR (rn > CAST(floor(n*0.1) AS BIGINT)
       AND rn <= n - CAST(floor(n*0.1) AS BIGINT))
GROUP BY track_id
"""
)

# XOR checksum fold (functions/nmea.py::nmea_checksum_ok): acc over chars
# between $ and *, compared to the trailing *XX hex suffix.
ORACLE_CHECKSUM = f"""
WITH {raw_cte()},
calc AS (
  SELECT upper(trim(substr(value, 2, 5))) AS stype,
         split_part(substr(value, 2, 1048576), '*', 1) AS body,
         upper(string_split(value, '*')[len(string_split(value, '*'))]) AS claimed,
         contains(value, '*') AS has_star
  FROM raw
),
folded AS (
  SELECT stype, claimed, has_star,
    CASE WHEN length(body) = 0 THEN 0
         ELSE list_reduce(list_transform(generate_series(1, length(body)),
                                         i -> ascii(substr(body, i, 1))),
                          (a, b) -> xor(a, b)) END AS acc
  FROM calc
)
SELECT stype,
       (has_star AND length(claimed) = 2
        AND claimed = lpad(upper(to_hex(acc)), 2, '0')) AS ok,
       CAST(COUNT(*) AS BIGINT) AS n
FROM folded GROUP BY stype, ok
"""

# Streaming stateful fix-merge (streaming/stateful.py): availableNow over
# the finite fixture reproduces the batch merge (stream==batch is pinned
# by tests/test_streaming.py), so the oracle is the batch fixes table.
# is_final mirrors the MAX_OPEN_FIXES=64 eviction: a fix finalizes when
# 64 newer keys have opened on its track (keys open in first-arrival
# order), so exactly the last 64 keys per track remain open at stream end.
ORACLE_STREAM_FIX_MERGE = (
    fixes_cte()
    + """,
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY track_id ORDER BY first_line DESC) AS rdesc
  FROM fixes
)
SELECT track_id, utc, date, lat, lon, gps_qual, num_sat, hdop,
       speed_knots, speed_kmh, track_deg_true,
       sentence_types_csv AS sentence_types,
       (rdesc > 64) AS is_final
FROM rk
"""
)

# GSV expansion (plans/nmea_queries.py::q_udtf_gsv): one row per complete
# (prn, elev, azim, snr) group, up to 4 groups per sentence part.
ORACLE_UDTF_GSV = f"""
WITH {raw_cte()},
g AS (
  SELECT line_no, track_id,
         string_split(split_part(substr(value, 2, 1048576), '*', 1), ',') AS t
  FROM raw WHERE value LIKE '$GPGSV%'
)
SELECT line_no, track_id,
       try_cast(t[5 + 4*gi] AS INTEGER) AS prn,
       try_cast(t[6 + 4*gi] AS INTEGER) AS elev,
       try_cast(t[7 + 4*gi] AS INTEGER) AS azim,
       try_cast(t[8 + 4*gi] AS INTEGER) AS snr
FROM g, UNNEST([0, 1, 2, 3]) AS u(gi)
WHERE try_cast(t[5 + 4*gi] AS INTEGER) IS NOT NULL
  AND try_cast(t[6 + 4*gi] AS INTEGER) IS NOT NULL
  AND try_cast(t[7 + 4*gi] AS INTEGER) IS NOT NULL
  AND try_cast(t[8 + 4*gi] AS INTEGER) IS NOT NULL
"""

# Grid-cell density (q_grid_density): heatmap-tile aggregation of the
# good fixes. floor(coord / 0.005) is IEEE-deterministic on both
# engines (same double divide, same floor), so cells are exact join
# keys; the speed mean uses the DECIMAL-sum discipline shared with the
# flagship oracle.
ORACLE_GRID_DENSITY = fixes_cte() + """
SELECT CAST(floor(lat / 0.005) AS BIGINT) AS cell_lat,
       CAST(floor(lon / 0.005) AS BIGINT) AS cell_lon,
       CAST(COUNT(*) AS BIGINT) AS n_fixes,
       CAST(COUNT(DISTINCT track_id) AS BIGINT) AS n_tracks,
       round(CAST(sum(CAST(speed_knots AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(*), 3) AS avg_speed_knots
FROM good GROUP BY 1, 2
"""

# Spatial proximity join (q_join_spatial): the oracle is the NAIVE
# all-pairs check — deliberately the contrast to the engine's
# grid-binned plan (same result, quadratic cost), the same
# naive-vs-binned pairing as q_join_range / q_join_range_binned.
# Radius 200 km separates the fixture's track pairs (two at ~149/161 km
# qualify, one at ~305 km does not), so the result is non-empty and
# discriminating — a same-second 2 km version would be vacuously empty
# (tracks are staggered 5 min apart and ~150 km from each other).
ORACLE_JOIN_SPATIAL = fixes_cte() + f"""
SELECT g1.track_id AS track_a, g2.track_id AS track_b,
       CAST(COUNT(*) AS BIGINT) AS n_near_pairs,
       round(MIN({_haversine('g1.lat', 'g1.lon', 'g2.lat', 'g2.lon')}), 6)
         AS min_dist_km
FROM good g1 JOIN good g2
  ON g1.track_id < g2.track_id
WHERE {_haversine('g1.lat', 'g1.lon', 'g2.lat', 'g2.lon')} <= 200.0
GROUP BY 1, 2
"""

# Grid-DBSCAN clusters (q_geo_dbscan): density-connected components of
# the heatmap cells. Core cells (n_fixes >= 15) adjacent in the
# 8-neighborhood merge into one cluster; sub-threshold cells are noise
# (NULL cluster). The cell key cell_lat*100000 + cell_lon is injective
# (|lon|/0.005 <= 36000 < 100000) and identical integer algebra on both
# engines; cluster_id = MIN reachable key via the recursive closure —
# exact, the q_dup_clusters oracle discipline. The leading WITH becomes
# WITH RECURSIVE (legal for the non-recursive CTEs it also covers).
ORACLE_GEO_DBSCAN = fixes_cte().replace(
    "\nWITH ", "\nWITH RECURSIVE ", 1
) + """
, cells AS (
  SELECT CAST(floor(lat / 0.005) AS BIGINT) AS cell_lat,
         CAST(floor(lon / 0.005) AS BIGINT) AS cell_lon,
         CAST(COUNT(*) AS BIGINT) AS n_fixes
  FROM good GROUP BY 1, 2
), core AS (
  SELECT cell_lat * 100000 + cell_lon AS k, cell_lat, cell_lon
  FROM cells WHERE n_fixes >= 15
), ce AS (
  SELECT a.k AS s, b.k AS t
  FROM core a JOIN core b
    ON abs(a.cell_lat - b.cell_lat) <= 1
   AND abs(a.cell_lon - b.cell_lon) <= 1
   AND a.k <> b.k
), reach(s, t) AS (
  SELECT k, k FROM core
  UNION
  SELECT r.s, e.t FROM reach r JOIN ce e ON r.t = e.s
), cl AS (
  SELECT s AS k, MIN(t) AS cluster_id FROM reach GROUP BY s
)
SELECT c.cell_lat, c.cell_lon, c.n_fixes, cl.cluster_id
FROM cells c
LEFT JOIN cl ON cl.k = c.cell_lat * 100000 + c.cell_lon
"""
