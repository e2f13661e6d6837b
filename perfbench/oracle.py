"""Correctness checks, run outside every timed region.

Each check compares the program's output with an independent DuckDB
computation over the same inputs: row count plus an order-insensitive
hash of the rows. Raises ``CheckFailed`` on a mismatch.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

# Merged-fix columns compared for the batch pipeline (the array columns
# enter as their sizes, the sentence-type set as a sorted csv).
FIX_COLUMNS = (
    "utc", "ts", "lat", "lon", "alt_m", "gps_qual", "num_sat", "hdop", "pdop",
    "vdop", "speed_knots", "speed_kmh", "track_deg_true", "n_sat_prns",
    "n_sat_info", "sentence_types_csv",
)


class CheckFailed(Exception):
    pass


# Spark's xxhash64 (XXH64, seed 42) of a string, to map the track ids
# ``read_nmea_text`` derives from file names back to receivers.
_M = (1 << 64) - 1
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, 1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc, lane):
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def _merge(acc, v):
    return ((acc ^ _round(0, v)) * _P1 + _P4) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = _merge(h, x)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        lane = int.from_bytes(data[i : i + 8], "little")
        h = ((_rotl(h ^ _round(0, lane), 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(data[i : i + 4], "little")
        h = ((_rotl(h ^ (lane * _P1 & _M), 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * _P5 & _M), 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def _cell(v) -> str:
    if v is None or v is pd.NaT:
        return "~"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "~"
        return repr(f + 0.0)
    if isinstance(v, (dt.date, dt.datetime, pd.Timestamp, np.datetime64)):
        return pd.Timestamp(v).isoformat()
    return str(v)


def _rows(df: pd.DataFrame) -> list[str]:
    cols = sorted(df.columns)
    return sorted("|".join(_cell(v) for v in row) for row in df[cols].itertuples(index=False))


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> dict:
    """Row count + order-insensitive hash; returns both on success."""
    if sorted(got.columns) != sorted(want.columns):
        raise CheckFailed(f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
    a, b = _rows(got), _rows(want)
    ha = hashlib.sha256("\n".join(a).encode()).hexdigest()[:16]
    hb = hashlib.sha256("\n".join(b).encode()).hexdigest()[:16]
    if len(a) != len(b) or ha != hb:
        diff = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
        raise CheckFailed(
            f"{name}: rows {len(a)} vs oracle {len(b)}, hash {ha} vs {hb}; first "
            f"difference at sorted row {diff}: "
            f"{a[diff] if diff < len(a) else None!r} vs {b[diff] if diff < len(b) else None!r}"
        )
    return {"rows": len(a), "hash": ha}


def _fixes_sql(parquet: str) -> str:
    """The program's DuckDB twin of the fix pipeline over the benchmark's
    own ``raw`` relation."""
    from gps_stream_processing_spark.plans.nmea_oracle import fixes_cte, raw_cte

    own_raw = f"""
raw AS (
  SELECT line_no, track_id, value FROM read_parquet('{parquet}')
)"""
    sql = fixes_cte()
    if raw_cte() not in sql:
        raise CheckFailed("nmea_oracle.fixes_cte() no longer starts from raw_cte()")
    return sql.replace(raw_cte(), own_raw)


def compare_sql(con, name: str, got: str, want: str) -> dict:
    """Row count + multiset equality (``EXCEPT ALL`` both ways) of two
    DuckDB queries with the same columns; returns the count and an
    order-insensitive hash."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE got AS {got}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {want}")
    n_got, n_want, extra, missing, h = con.execute("""
    SELECT (SELECT count(*) FROM got), (SELECT count(*) FROM want),
           (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)),
           (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)),
           (SELECT bit_xor(hash(got)) FROM got)""").fetchone()
    if n_got != n_want or extra or missing:
        sample = con.execute("SELECT * FROM got EXCEPT ALL SELECT * FROM want LIMIT 1").fetchall()
        raise CheckFailed(
            f"{name}: rows {n_got} vs oracle {n_want}; {extra} rows not in the oracle, "
            f"{missing} oracle rows missing; e.g. {sample}"
        )
    return {"rows": int(n_got), "hash": f"{(h or 0) & (2**64 - 1):016x}"}


def write_fixes(spark, text_dir: str, out_dir: str) -> None:
    """Spark side of the fix check: the merged fixes of ``gps_fix_pipeline``
    over the archive, array columns as sizes, written as parquet."""
    from pyspark.sql import functions as F

    from gps_stream_processing_spark.operators.gps_fix import gps_fix_pipeline
    from gps_stream_processing_spark.sources.nmea import read_nmea_text

    gps_fix_pipeline(read_nmea_text(spark, text_dir)).select(
        "track_id", "utc", "ts", "lat", "lon", "alt_m", "gps_qual", "num_sat", "hdop",
        "pdop", "vdop", "speed_knots", "speed_kmh", "track_deg_true",
        F.size("sat_prns").alias("n_sat_prns"),
        F.size("sat_info").alias("n_sat_info"),
        F.array_join("sentence_types", ",").alias("sentence_types_csv"),
    ).write.parquet(out_dir)


def check_fixes(text_dir: str, parquet: str, out_dir: str) -> dict:
    """The fixes ``write_fixes`` left in ``out_dir`` == the DuckDB oracle
    over the archive's parquet twin. Spark's file-hash track ids are
    mapped back to the receiver index in the file name."""
    track_of = {
        xxhash64(f"file://{os.path.abspath(os.path.join(text_dir, n))}".encode()):
            int(n[2:].split(".")[0])
        for n in os.listdir(text_dir)
    }

    def canon(rel: str) -> str:
        types = {"utc": "VARCHAR", "sentence_types_csv": "VARCHAR", "ts": "TIMESTAMP"}
        cols = ", ".join(f"CAST({c} AS {types.get(c, 'DOUBLE')}) AS {c}" for c in FIX_COLUMNS)
        return f"SELECT CAST(track_id AS BIGINT) AS track_id, {cols} FROM {rel}"

    got = canon(
        "(SELECT m.rx AS track_id, x.* EXCLUDE (track_id) "
        f"FROM read_parquet('{out_dir}/*.parquet') x LEFT JOIN track_of m ON m.h = x.track_id)"
    )
    with duckdb.connect() as con:
        con.execute("CREATE TEMP TABLE track_of (h BIGINT, rx BIGINT)")
        con.executemany("INSERT INTO track_of VALUES (?, ?)", list(track_of.items()))
        con.execute(f"CREATE TEMP VIEW oracle_fixes AS {_fixes_sql(parquet)} SELECT * FROM fixes")
        return compare_sql(con, "fix_batch merged fixes", got, canon("oracle_fixes"))


def check_stream(sink_dir: str, parquet: str, merge_fields: tuple[str, ...]) -> dict:
    """The last emitted version of every (track_id, utc) equals the batch
    merge of the same lines over ``merge_fields``. Also returns the number
    of rows the sink received."""
    cols = ", ".join(
        f"CAST({c} AS {'VARCHAR' if c == 'date' else 'DOUBLE'}) AS {c}" for c in merge_fields
    )
    sink = f"read_parquet('{sink_dir}/*.parquet')"
    with duckdb.connect() as con:
        emitted = con.execute(f"SELECT count(*) FROM {sink}").fetchone()[0]
        out = compare_sql(
            con,
            "fix_stream_live last versions",
            f"SELECT track_id, utc, {cols} FROM {sink} "
            "QUALIFY row_number() OVER (PARTITION BY track_id, utc ORDER BY batch_id DESC) = 1",
            f"{_fixes_sql(parquet)} SELECT track_id, utc, {cols} FROM fixes",
        )
    out["emitted"] = int(emitted)
    return out


def check_lake(name: str, got: pd.DataFrame, oracle_sql: str, sf_dir: str, tables) -> dict:
    with duckdb.connect() as con:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        want = con.execute(oracle_sql).df()
    return compare(name, got, want)
