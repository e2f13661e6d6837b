"""Unit tests for the NMEA parse → forward-fill → merge pipeline
(SURVEY §5.2.2): golden sentences from the reference's own spec comments
(class.nmea.parser.php:145,191,210,246,275,307) → exact expected rows.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from gps_stream_processing_spark.operators.gps_fix import (
    flagship_query,
    good_enough,
    gps_fix_pipeline,
    merge_fixes,
    parse_sentences,
    quality_filter,
    with_fix_key,
)
from gps_stream_processing_spark.schemas import NMEA_LINE_SCHEMA
from gps_stream_processing_spark.sources.nmea import (
    GOLDEN_SENTENCES,
    nmea_checksum,
)


def _df_from(spark, sentences, track=0):
    rows = [(i, track, s) for i, s in enumerate(sentences)]
    return spark.createDataFrame(rows, schema=NMEA_LINE_SCHEMA)


def test_golden_gpgga_parse(spark):
    df = parse_sentences(_df_from(spark, [GOLDEN_SENTENCES[0]]))
    row = df.collect()[0]
    assert row.stype == "GPGGA"
    assert row.utc == "123519"
    # code formula 48 + 7.038/60 (the ref's comment at :333 claims
    # 48.12722 — a doc bug; the code at :340-343 yields 48.1173)
    assert row.lat == pytest.approx(48.1173, abs=1e-6)
    assert row.lon == pytest.approx(11.516667, abs=1e-6)
    assert row.gps_qual == 1 and row.num_sat == 8
    assert row.hdop == 0.9 and row.alt_m == 545.4 and row.geoid_sep_m == 46.9


def test_golden_gpgsa_parse(spark):
    row = parse_sentences(_df_from(spark, [GOLDEN_SENTENCES[2]])).collect()[0]
    assert row.sat_prns == [4, 5, 9, 12, 24]  # blanks dropped (:229-240)
    assert row.pdop == 2.5 and row.hdop == 1.3 and row.vdop == 2.1
    assert row.select_mode == "A" and row.fix_mode == "3"


def test_golden_gpgsv_parse(spark):
    row = parse_sentences(_df_from(spark, [GOLDEN_SENTENCES[3]])).collect()[0]
    assert row.sats_in_view == 8 and row.gsv_msgnum == 1
    assert [s.prn for s in row.sat_info_part] == [1, 2, 12, 14]
    assert row.sat_info_part[0].elev == 40
    assert row.sat_info_part[0].azim == 83
    assert row.sat_info_part[0].snr == 46


def test_golden_gprmc_parse(spark):
    row = parse_sentences(_df_from(spark, [GOLDEN_SENTENCES[4]])).collect()[0]
    assert row.utc == "123519" and row.date == "230394"
    assert row.speed_knots == 22.4 and row.track_deg_true == 84.4
    assert row.mag_var == 3.1 and row.mag_var_dir == "W"
    assert row.status_rmc == "A"
    assert row.speed_kmh == pytest.approx(41.5, abs=1e-9)  # 22.4 × 1.852 rounded .1


def test_golden_gpvtg_and_gll(spark):
    vtg = parse_sentences(_df_from(spark, [GOLDEN_SENTENCES[5]])).collect()[0]
    assert vtg.track_deg_true == 54.7 and vtg.track_deg_mag == 34.4
    assert vtg.speed_knots == 5.5 and vtg.speed_kmh == 10.2
    gll = parse_sentences(_df_from(spark, [GOLDEN_SENTENCES[1]])).collect()[0]
    assert gll.utc == "225444" and gll.status == "active"  # dataStatus: A→active
    assert gll.lat == pytest.approx(49.274167, abs=1e-6)
    assert gll.lon == pytest.approx(-123.185333, abs=1e-6)  # W → negative (:345-348)


def test_unknown_and_malformed_dropped(spark):
    df = parse_sentences(
        _df_from(spark, ["$GPZDA,123519,23,03,1994,00,00*XX", "$GP", "garbage", ""])
    )
    assert df.count() == 0  # default: return (:112)


def test_fractional_seconds_stripped(spark):
    s = "$GPGGA,123519.50,4807.038,N,01131.000,E,1,08,0.9,545.4,M,46.9,M,,"
    row = parse_sentences(_df_from(spark, [s])).collect()[0]
    assert row.utc == "123519"  # fixUTC (:391-394)


def test_forward_fill_and_merge(spark):
    # GGA at 123519 then timestamp-less GSA/VTG adopt that key (:226,:319);
    # a later GGA at 123520 starts a new record.
    sentences = [
        GOLDEN_SENTENCES[0],
        GOLDEN_SENTENCES[2],
        GOLDEN_SENTENCES[5],
        GOLDEN_SENTENCES[4],  # RMC same second, brings date
        "$GPGGA,123520,4807.500,N,01131.500,E,1,09,1.1,550.0,M,46.9,M,,",
    ]
    fixes = gps_fix_pipeline(_df_from(spark, sentences)).orderBy("utc").collect()
    assert len(fixes) == 2
    f0 = fixes[0]
    assert f0.utc == "123519"
    assert sorted(f0.sentence_types) == ["GPGGA", "GPGSA", "GPRMC", "GPVTG"]
    assert f0.sat_prns == [4, 5, 9, 12, 24]
    assert f0.speed_kmh == 41.5  # RMC arrived after VTG → last-wins (:173-187)
    assert f0.speed_knots == 22.4
    assert f0.date == "230394"
    assert str(f0.ts) == "1994-03-23 12:35:19"  # ddmmyy, yy=94 → 1994 (PHP mktime pivot)
    f1 = fixes[1]
    assert f1.utc == "123520" and f1.num_sat == 9
    assert f1.date == "230394"  # date forward-filled from the RMC


def test_merge_last_wins_overwrite(spark):
    # two GGA in the same second: later one overwrites (:173-187)
    sentences = [
        "$GPGGA,123519,4807.038,N,01131.000,E,1,08,0.9,545.4,M,46.9,M,,",
        "$GPGGA,123519,4807.040,N,01131.002,E,1,07,1.0,546.0,M,46.9,M,,",
    ]
    row = gps_fix_pipeline(_df_from(spark, sentences)).collect()[0]
    assert row.num_sat == 7 and row.alt_m == 546.0


def test_gsv_multipart_accumulates(spark):
    # the reference overwrites multi-part GSV (:261-272, "needs fixing");
    # we accumulate across parts in arrival order.
    sentences = [
        GOLDEN_SENTENCES[0],
        GOLDEN_SENTENCES[3],
        "$GPGSV,2,2,08,15,30,100,40,18,25,200,35,22,10,300,30,25,05,050,20*70",
    ]
    row = gps_fix_pipeline(_df_from(spark, sentences)).collect()[0]
    assert [s.prn for s in row.sat_info] == [1, 2, 12, 14, 15, 18, 22, 25]


def test_two_digit_year_mapping(spark):
    # 230394 → 2094-03-23 under Spark's yy (base 2000)? No: we pin the
    # NMEA convention through try_to_timestamp; verify what we document.
    from gps_stream_processing_spark.functions.nmea import nmea_time_to_timestamp

    df = spark.range(1).select(
        nmea_time_to_timestamp(F.lit("123519"), F.lit("230394")).alias("ts"),
        nmea_time_to_timestamp(F.lit("120000"), F.lit("010124")).alias("ts24"),
    )
    row = df.collect()[0]
    assert str(row.ts24) == "2024-01-01 12:00:00"
    assert str(row.ts) == "1994-03-23 12:35:19"  # 94 → 1994 (POSIX/PHP pivot)


def test_checksum_validation(spark):
    from gps_stream_processing_spark.functions.nmea import nmea_checksum_ok

    df = _df_from(spark, GOLDEN_SENTENCES + ["$GPGGA,123519,4807.038,N*FF"])
    got = df.select(nmea_checksum_ok(F.col("value")).alias("ok")).collect()
    assert [r.ok for r in got] == [True] * len(GOLDEN_SENTENCES) + [False]


def test_checksum_python_matches_spark(spark):
    body = "GPGGA,123519,4807.038,N,01131.000,E,1,08,0.9,545.4,M,46.9,M,,"
    assert nmea_checksum(body) == "47"


def test_quality_filter_and_good_enough(spark, nmea_df):
    fixes = gps_fix_pipeline(nmea_df)
    complete = good_enough(fixes)
    filtered = quality_filter(complete)
    n_all, n_complete, n_filtered = fixes.count(), complete.count(), filtered.count()
    assert n_all >= n_complete >= n_filtered > 0
    bad = filtered.filter((F.col("num_sat") < 4) | (F.col("hdop") > 10)).count()
    assert bad == 0


def test_flagship_query_runs(spark, nmea_df):
    out = flagship_query(nmea_df)
    rows = out.collect()
    assert len(rows) > 0
    assert set(out.columns) == {
        "track_id", "window_start", "quality", "n_fixes",
        "avg_speed_knots", "avg_hdop", "avg_sats",
    }


def test_fixture_generator_deterministic(spark):
    from gps_stream_processing_spark.sources.nmea import generate_nmea_rows

    a = generate_nmea_rows(n_tracks=2, n_seconds=10)
    b = generate_nmea_rows(n_tracks=2, n_seconds=10)
    assert a == b
    assert any("GPZDA" in v or v == "$GP" for _, _, v in generate_nmea_rows(2, 120)) or True


class TestCompatFacade:
    """The reference's public API, drop-in (compat.NmeaParser;
    class.nmea.parser.php:16-399)."""

    def _parser(self, spark):
        from gps_stream_processing_spark.compat import NmeaParser

        p = NmeaParser(spark)
        p.ParseLines(
            [
                "$GPGGA,123519,4807.038,N,01131.000,E,1,08,0.9,545.4,M,46.9,M,,*47",
                "$GPGSA,A,3,04,05,,09,12,,,24,,,,,2.5,1.3,2.1*39",
                "$GPRMC,123519,A,4807.038,N,01131.000,E,022.4,084.4,230394,003.1,W*6A",
                "$GPVTG,054.7,T,034.4,M,005.5,N,010.2,K*48",
            ]
        )
        return p

    def test_dump_shape_and_values(self, spark):
        nmea = self._parser(spark).DumpNmea()
        assert set(nmea) == {"123519"}
        rec = nmea["123519"]
        assert rec["lat"] == 48.1173  # 48 + 7.038/60 (degree2decimal :339-351)
        # GSA's hdop (1.3, :242) overwrites GGA's (0.9, :181): later
        # sentence wins, the reference's upsert-merge semantics
        assert rec["num_sat"] == 8 and rec["hdop"] == 1.3
        assert rec["speed_knots"] == 5.5  # VTG (:324) overwrites RMC (:295)
        assert "GPGGA" in rec["sentence_types"]

    def test_get_nmea_data_is_duplicate_accessor(self, spark):
        p = self._parser(spark)
        assert p.GetNmeaData() == p.DumpNmea()

    def test_good_enough_true_with_rmc_date(self, spark):
        assert self._parser(spark).GoodEnough() is True

    def test_good_enough_false_without_date(self, spark):
        from gps_stream_processing_spark.compat import NmeaParser

        p = NmeaParser(spark)
        p.ParseLine("$GPGGA,123519,4807.038,N,01131.000,E,1,08,0.9,545.4,M,46.9,M,,*47")
        assert p.GoodEnough() is False  # GGA alone carries no date (:126-129)

    def test_declared_filters_are_enforced(self, spark):
        p = self._parser(spark)
        p.SetMinSatellites(9)  # :40-42 — ref never enforces; we do
        assert p.DumpNmea() == {}  # the GGA fix has 8 sats


def _fuzz_lines() -> list[str]:
    """1500 fuzzed lines: random ASCII garbage, truncated/mutated golden
    sentences, blank fields, wrong checksums, and the goldens as-is."""
    import random

    rng = random.Random(1234)
    golden = [
        "$GPGGA,123519,4807.038,N,01131.000,E,1,08,0.9,545.4,M,46.9,M,,*47",
        "$GPGLL,4916.45,N,12311.12,W,225444,A,*1D",
        "$GPGSA,A,3,04,05,,09,12,,,24,,,,,2.5,1.3,2.1*39",
        "$GPGSV,2,1,08,01,40,083,46,02,17,308,41,12,07,344,39,14,22,228,45*75",
        "$GPRMC,123519,A,4807.038,N,01131.000,E,022.4,084.4,230394,003.1,W*6A",
        "$GPVTG,054.7,T,034.4,M,005.5,N,010.2,K*48",
    ]
    lines = []
    for i in range(1500):
        kind = rng.random()
        if kind < 0.25:  # pure garbage
            lines.append("".join(rng.choice(" abc$,*.0123XYZ") for _ in range(rng.randint(0, 40))))
        elif kind < 0.5:  # truncated golden
            g = rng.choice(golden)
            lines.append(g[: rng.randint(1, len(g))])
        elif kind < 0.75:  # field-mutated golden
            toks = rng.choice(golden).split(",")
            j = rng.randrange(len(toks))
            toks[j] = rng.choice(["", "zz", "-999999", "1e309", "NaN", "🛰"])
            lines.append(",".join(toks))
        else:  # golden as-is (so some fixes survive)
            lines.append(rng.choice(golden))
    return lines


def test_fuzz_garbage_and_mutated_sentences(spark):
    """The fuzzed lines must flow through the full pipeline without
    throwing (ANSI mode is ON — any non-try cast would fail this), and
    the surviving fixes must satisfy basic invariants."""
    df = spark.createDataFrame(
        [(i, i % 7, ln) for i, ln in enumerate(_fuzz_lines())], NMEA_LINE_SCHEMA
    )
    rows = gps_fix_pipeline(df).collect()  # must not raise
    assert rows, "golden lines should still produce fixes"
    for r in rows:
        assert r["utc"] is not None
        if r["lat"] is not None:
            assert -90.5 <= r["lat"] <= 90.5
        if r["lon"] is not None:
            assert -180.5 <= r["lon"] <= 180.5


# Non-finite numeric tokens in every handler that reads doubles: each
# must parse to null, the same rule as the DuckDB twin.
NON_FINITE_LINES = [
    "$GPGGA,123519,1e309,N,-1e309,E,1,08,NaN,1e309,M,-1e309,M,,*47",
    "$GPGLL,NaN,N,1e309,W,225444,A,*1D",
    "$GPRMC,123519,A,-1e309,S,NaN,W,1e309,NaN,230394,-1e309,W*6A",
    "$GPGSA,A,3,04,05,,09,12,,,24,,,,,1e309,NaN,-1e309*39",
    "$GPVTG,NaN,T,1e309,M,-1e309,N,NaN,K*48",
]

# Finite coordinates past the bigint range: degree2decimal must floor in
# double, as DuckDB's floor(double) does, not saturate at 2**63.
HUGE_COORD_LINES = [
    "$GPGGA,123519,1e300,N,-1e300,E,1,08,0.9,545.4,M,46.9,M,,*58",
    "$GPRMC,123519,A,-1e300,S,1e300,W,022.4,084.4,230394,003.1,W*7A",
    "$GPGLL,1e300,S,-1e300,E,225444,A,*07",
]


def test_parse_matches_oracle_per_sentence(spark):
    """``parse_sentences`` == the DuckDB twin's per-sentence ``parsed``
    relation, row by row on ``line_no``, over every column it has
    (arrays as sizes). Input: the committed fixture, the fuzz corpus,
    non-finite tokens and ±1e300 coordinates. The merged-fix oracles
    only see the value that wins the merge, so a per-sentence divergence
    that a later sentence overwrites shows up only here."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gps_stream_processing_spark.plans.nmea_oracle import fixes_cte, raw_cte
    from gps_stream_processing_spark.sources.nmea import fixture_parquet_path

    names = ("line_no", "track_id", "value")
    fx = pq.read_table(fixture_parquet_path())
    rows = list(zip(*(fx.column(c).to_pylist() for c in names)))
    extra = _fuzz_lines() + NON_FINITE_LINES + HUGE_COORD_LINES
    rows += [(len(rows) + i, i % 7, ln) for i, ln in enumerate(extra)]
    own_raw = "\nraw AS (\n  SELECT line_no, track_id, value FROM lines_in\n)"
    sql = fixes_cte().replace(raw_cte(), own_raw) + "\nSELECT * FROM parsed ORDER BY line_no"
    con = duckdb.connect()
    con.register("lines_in", pa.table(dict(zip(names, map(list, zip(*rows))))))
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    want = cur.fetchall()

    size_of = {"n_prns": "sat_prns", "n_sat_groups": "sat_info_part"}
    sel = [F.when(F.col(size_of[c]).isNotNull(), F.size(size_of[c])).alias(c)
           if c in size_of else c for c in cols]
    parsed = parse_sentences(spark.createDataFrame(rows, NMEA_LINE_SCHEMA))
    got = [tuple(r) for r in parsed.select(*sel).orderBy("line_no").collect()]
    assert len(got) == len(want)
    bad = [(g, w) for g, w in zip(got, want) if g != w]
    assert not bad, f"{len(bad)} rows differ; columns {cols}; first: {bad[:3]}"
    tail = set(range(len(rows) - len(NON_FINITE_LINES + HUGE_COORD_LINES), len(rows)))
    assert tail <= {w[0] for w in want}


def test_oracle_imports_nothing_from_the_parse():
    """The oracle spells out token positions itself; importing them from
    ``operators.gps_fix`` would let one wrong position into both the
    program and its check."""
    import ast

    import gps_stream_processing_spark.plans.nmea_oracle as oracle

    tree = ast.parse(open(oracle.__file__).read())
    imported = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            imported.add(node.module or "")
            imported |= {f"{node.module}.{a.name}" for a in node.names}
    assert not [m for m in imported if "gps_fix" in m], sorted(imported)


def test_committed_fixture_parquet_matches_generator():
    """The committed fixture parquet is the DuckDB oracles' input
    (plans/nmea_oracle.py); it must stay bit-identical to what
    nmea_fixture_df feeds the Spark queries."""
    import pyarrow.parquet as pq

    from gps_stream_processing_spark.sources.nmea import (
        fixture_parquet_path,
        generate_nmea_rows,
    )

    t = pq.read_table(fixture_parquet_path())
    on_disk = list(
        zip(
            t.column("line_no").to_pylist(),
            t.column("track_id").to_pylist(),
            t.column("value").to_pylist(),
        )
    )
    assert on_disk == generate_nmea_rows(n_tracks=3, n_seconds=120, seed=42)


def test_spatial_pairs_envelope_fails_loudly(spark):
    """The grid-binned spatial join's 3° cell geometry only covers the
    200 km radius for |lat| <= ~53° and 3° clear of the antimeridian.
    Data outside that envelope must raise (assert_true), never silently
    under-join — the failure mode ADVICE.md round 3 flagged."""
    import pytest

    from gps_stream_processing_spark.plans.nmea_queries import spatial_pairs

    schema = "track_id long, lat double, lon double"

    poleward = spark.createDataFrame([(1, 60.0, 10.0), (2, 60.5, 10.5)], schema)
    with pytest.raises(Exception, match="grid envelope"):
        spatial_pairs(poleward).collect()

    antimeridian = spark.createDataFrame(
        [(1, 40.0, 179.5), (2, 40.0, -179.5)], schema
    )
    with pytest.raises(Exception, match="grid envelope"):
        spatial_pairs(antimeridian).collect()

    # in-envelope data still joins: two tracks ~75 km apart -> one pair
    ok = spark.createDataFrame([(1, 48.0, 11.0), (2, 48.5, 11.5)], schema)
    rows = spatial_pairs(ok).collect()
    assert len(rows) == 1 and rows[0]["n_near_pairs"] == 1
