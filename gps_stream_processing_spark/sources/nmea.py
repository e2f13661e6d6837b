"""NMEA-0183 sources: deterministic fixture generator + batch/stream readers.

The reference ingests one sentence per call (``ParseLine``,
``class.nmea.parser.php:103-114``). Our batch source is
``spark.read.text`` and the streaming source is ``spark.readStream.text``
over a directory (SURVEY §1.3). The generator below synthesizes the
fixture stream described in FIXTURES.md §A.1: per fix-second bursts of
timestamp-bearing sentences (GPGGA/GPRMC/GPGLL) followed by
timestamp-less ones (GPGSA/GPGSV/GPVTG) — exactly the shape that
exercises the reference's forward-filled ``$CurrentUTC`` merge
(``class.nmea.parser.php:172,226,264,319``) — plus ~2% unknown types
(silently dropped, ``:112``) and ~1% malformed lines.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession

from gps_stream_processing_spark.schemas import NMEA_LINE_SCHEMA

# The reference's own golden sentences (spec comments,
# class.nmea.parser.php:145,191,210,246,275,307) — lifted verbatim.
GOLDEN_SENTENCES = [
    "$GPGGA,123519,4807.038,N,01131.000,E,1,08,0.9,545.4,M,46.9,M,,*47",
    "$GPGLL,4916.45,N,12311.12,W,225444,A,*1D",
    "$GPGSA,A,3,04,05,,09,12,,,24,,,,,2.5,1.3,2.1*39",
    "$GPGSV,2,1,08,01,40,083,46,02,17,308,41,12,07,344,39,14,22,228,45*75",
    "$GPRMC,123519,A,4807.038,N,01131.000,E,022.4,084.4,230394,003.1,W*6A",
    "$GPVTG,054.7,T,034.4,M,005.5,N,010.2,K*48",
]


def nmea_checksum(body: str) -> str:
    """XOR of the chars between ``$`` and ``*`` (NMEA-0183), hex-uppercase."""
    acc = 0
    for ch in body:
        acc ^= ord(ch)
    return f"{acc:02X}"


def _sentence(body: str) -> str:
    return f"${body}*{nmea_checksum(body)}"


def _ddmm(deg: float) -> str:
    """decimal degrees → NMEA ddmm.mmmm (absolute value)."""
    d = int(abs(deg))
    m = (abs(deg) - d) * 60.0
    return f"{d:02d}{m:07.4f}"


def _second_burst(
    rng: random.Random, lat: float, lon: float, t_i: datetime
) -> tuple[float, float, list[str]]:
    """One fix-second's sentence burst for one track. Consumes the
    track's RNG in a FIXED draw order (position, sats, dops, speed,
    course, altitude, frac flag, GLL flag, PRN sample, GSV signal
    draws, ZDA flag, malformed flag) — both generators below share
    this, so the sequential fixture stream stays byte-identical to
    FIXTURES.md §A.1 (pinned by pytest against the committed parquet)
    and the per-track stream is reproducible from its seed alone."""
    lines: list[str] = []
    utc = t_i.strftime("%H%M%S")
    date = t_i.strftime("%d%m%y")
    lat += (rng.random() - 0.5) * 1e-3
    lon += (rng.random() - 0.5) * 1e-3
    ns = "N" if lat >= 0 else "S"
    ew = "E" if lon >= 0 else "W"
    nsat = rng.randint(3, 12)
    hdop = round(rng.uniform(0.5, 12.0), 1)
    speed = round(rng.uniform(0.0, 40.0), 1)
    track_deg = round(rng.uniform(0.0, 359.9), 1)
    alt = round(500 + rng.uniform(-20, 20), 1)
    frac = ".00" if rng.random() < 0.2 else ""  # exercises fixUTC (:391-394)
    lines.append(
        _sentence(
            f"GPGGA,{utc}{frac},{_ddmm(lat)},{ns},{_ddmm(lon)},{ew},1,"
            f"{nsat:02d},{hdop},{alt},M,46.9,M,,"
        )
    )
    lines.append(
        _sentence(
            f"GPRMC,{utc},A,{_ddmm(lat)},{ns},{_ddmm(lon)},{ew},"
            f"{speed:05.1f},{track_deg:05.1f},{date},003.1,W"
        )
    )
    if rng.random() < 0.15:
        lines.append(
            _sentence(f"GPGLL,{_ddmm(lat)},{ns},{_ddmm(lon)},{ew},{utc},A,")
        )
    # timestamp-less burst → adopts the forward-filled key
    prns = sorted(rng.sample(range(1, 33), nsat))
    sat_fields = ",".join(f"{p:02d}" for p in prns[:12])
    pad = "," * (12 - min(nsat, 12))
    lines.append(
        _sentence(
            f"GPGSA,A,3,{sat_fields}{pad},"
            f"{round(hdop * 1.4, 1)},{hdop},{round(hdop * 1.1, 1)}"
        )
    )
    n_view = min(nsat, 8)
    n_msg = (n_view + 3) // 4
    for msg in range(1, n_msg + 1):
        grp = prns[(msg - 1) * 4 : msg * 4]
        fields = ",".join(
            f"{p:02d},{rng.randint(5, 85):02d},{rng.randint(0, 359):03d},{rng.randint(10, 50):02d}"
            for p in grp
        )
        lines.append(_sentence(f"GPGSV,{n_msg},{msg},{n_view:02d},{fields}"))
    lines.append(
        _sentence(
            f"GPVTG,{track_deg:05.1f},T,{round(track_deg - 2.1, 1):05.1f},M,"
            f"{speed:05.1f},N,{round(speed * 1.852, 1):05.1f},K"
        )
    )
    if rng.random() < 0.02:  # unknown type → dropped (:112)
        lines.append(
            _sentence(
                f"GPZDA,{utc},{t_i.day:02d},{t_i.month:02d},{t_i.year},00,00"
            )
        )
    if rng.random() < 0.01:  # malformed line
        lines.append("$GP")
    return lat, lon, lines


def generate_nmea_rows(
    n_tracks: int = 3,
    n_seconds: int = 120,
    seed: int = 42,
    start: datetime | None = None,
) -> list[tuple[int, int, str]]:
    """Deterministic (line_no, track_id, value) rows per FIXTURES.md §A.1.

    ONE sequential RNG stream across all tracks and a global dense
    ``line_no`` — the committed-fixture contract (byte-pinned). The
    per-partition-derivable twin for scale is ``generate_track_rows``."""
    rng = random.Random(seed)
    start = start or datetime(2024, 3, 23, 12, 35, 19, tzinfo=timezone.utc)
    rows: list[tuple[int, int, str]] = []
    line_no = 0

    def emit(track: int, line: str) -> None:
        nonlocal line_no
        rows.append((line_no, track, line))
        line_no += 1

    # golden sentences open track 0 (they share UTC 123519 / 225444)
    for g in GOLDEN_SENTENCES:
        emit(0, g)

    for track in range(n_tracks):
        lat = 48.0 + track + rng.random()
        lon = 11.0 + track + rng.random()
        t = start + timedelta(minutes=5 * track)
        for sec in range(n_seconds):
            lat, lon, lines = _second_burst(rng, lat, lon, t + timedelta(seconds=sec))
            for line in lines:
                emit(track, line)
    return rows


# line_no namespace stride for per-track generation: track t owns
# [t*stride, (t+1)*stride). Max burst is 9 lines/fix-second
# (GGA+RMC+GLL+GSA+2×GSV+VTG+ZDA+malformed), so generate_track_rows
# guards n_seconds*9 <= stride — a spill would silently collide two
# tracks' line_no keys downstream.
TRACK_LINE_STRIDE = 1_000_000
_MAX_BURST_LINES = 9


def generate_track_rows(
    track: int,
    n_seconds: int = 120,
    seed: int = 42,
    start: datetime | None = None,
) -> list[tuple[int, int, str]]:
    """ONE track's (line_no, track_id, value) rows, derived from the
    partition descriptor alone: the RNG is seeded per track
    (``seed/track/<t>``) and ``line_no`` lives in the track's own
    namespace (``track * TRACK_LINE_STRIDE + i``) — no dependence on
    any other track's stream. This is the scale-correct generation
    shape (SCALE.md §Sources: per-partition work must be derivable
    from the descriptor, never by replaying the whole source); the
    sequential ``generate_nmea_rows`` stays the byte-pinned fixture
    contract. Same per-second burst, same sentence mix, same defect
    rates — only the seeding and numbering differ."""
    if n_seconds * _MAX_BURST_LINES > TRACK_LINE_STRIDE:
        raise ValueError(
            f"n_seconds={n_seconds} can emit up to "
            f"{n_seconds * _MAX_BURST_LINES} lines — past the "
            f"{TRACK_LINE_STRIDE}-wide per-track line_no namespace; "
            "raise TRACK_LINE_STRIDE or split the track"
        )
    return [r for _, burst in generate_track_rows_by_second(
        track, n_seconds=n_seconds, seed=seed, start=start
    ) for r in burst]


def generate_track_rows_by_second(
    track: int,
    n_seconds: int = 120,
    seed: int = 42,
    start: datetime | None = None,
) -> list[tuple[int, list[tuple[int, int, str]]]]:
    """:func:`generate_track_rows`'s rows grouped ``[(sec, rows)]`` —
    the offset-sliceable shape the custom STREAMING data source reads
    (a micro-batch covering seconds [s, e) is exactly the concatenation
    of these groups). Single implementation: ``generate_track_rows``
    flattens this, so the two can never drift; the RNG must be
    consumed strictly in second order, which is why a batch read
    regenerates from second 0 and slices (the fixture is tiny; a real
    source would seek a broker offset instead)."""
    if n_seconds * _MAX_BURST_LINES > TRACK_LINE_STRIDE:
        raise ValueError(  # same collision guard as generate_track_rows
            f"n_seconds={n_seconds} can emit up to "
            f"{n_seconds * _MAX_BURST_LINES} lines — past the "
            f"{TRACK_LINE_STRIDE}-wide per-track line_no namespace"
        )
    rng = random.Random(f"{seed}/track/{track}")
    start = start or datetime(2024, 3, 23, 12, 35, 19, tzinfo=timezone.utc)
    lat = 48.0 + (track % 40) + rng.random()  # cap: stay in the ≤88° band
    lon = 11.0 + (track % 120) + rng.random()
    t = start + timedelta(minutes=5 * (track % 288))
    out: list[tuple[int, list[tuple[int, int, str]]]] = []
    line_no = track * TRACK_LINE_STRIDE
    for sec in range(n_seconds):
        lat, lon, lines = _second_burst(rng, lat, lon, t + timedelta(seconds=sec))
        burst = []
        for line in lines:
            burst.append((line_no, track, line))
            line_no += 1
        out.append((sec, burst))
    return out


def nmea_fixture_df(spark: SparkSession, **kwargs) -> DataFrame:
    return spark.createDataFrame(generate_nmea_rows(**kwargs), schema=NMEA_LINE_SCHEMA)


def fixture_parquet_path() -> str:
    """Path of the committed canonical fixture parquet
    (``generate_nmea_rows(n_tracks=3, n_seconds=120, seed=42)``) — the
    SAME rows every NMEA query consumes via ``nmea_fixture_df``. Having
    it on disk lets the DuckDB oracles re-run the reference's pipeline
    (parse → $CurrentUTC forward-fill → upsert-merge,
    class.nmea.parser.php:103-328) independently in SQL and hash-match
    the Spark results. A pytest pins file == generator output."""
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "data",
        "nmea_fixture_3x120.parquet",
    )


def write_fixture_parquet(path: str | None = None) -> str:
    """Regenerate the canonical fixture parquet (pure pyarrow, no Spark)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = path or fixture_parquet_path()
    rows = generate_nmea_rows(n_tracks=3, n_seconds=120, seed=42)
    table = pa.table(
        {
            "line_no": pa.array([r[0] for r in rows], pa.int64()),
            "track_id": pa.array([r[1] for r in rows], pa.int64()),
            "value": pa.array([r[2] for r in rows], pa.string()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def write_nmea_fixture(spark: SparkSession, path: str, **kwargs) -> None:
    """Persist the fixture as text files, one per track — the file-per-track
    layout is what makes the streaming/forward-fill path partition-parallel
    at scale (one receiver's lines stay in arrival order within a file)."""
    import os

    rows = generate_nmea_rows(**kwargs)
    os.makedirs(path, exist_ok=True)
    by_track: dict[int, list[str]] = {}
    for _, track, value in rows:
        by_track.setdefault(track, []).append(value)
    for track, lines in by_track.items():
        with open(os.path.join(path, f"track_{track}.nmea"), "w") as f:
            f.write("\n".join(lines) + "\n")


def read_nmea_text(spark: SparkSession, path: str) -> DataFrame:
    """Batch text scan → NMEA_LINE_SCHEMA. ``track_id`` is the hash of
    the input file (one receiver per file); ``line_no`` is the in-file
    arrival order, numbered in hash(``track_id``) partitions — the one
    shuffle the fill, merge and flagship aggregate downstream reuse."""
    from pyspark.sql import functions as F, Window as W

    raw = spark.read.text(path).select(F.xxhash64(F.input_file_name()).alias("track_id"), "value")
    w = W.partitionBy("track_id").orderBy(F.monotonically_increasing_id())
    return raw.select(F.row_number().over(w).cast("long").alias("line_no"), "track_id", "value")

