"""Parquet scan layer over the driver test tables (SURVEY §2.1, FIXTURES.md §B).

The reference's only source is per-line push ingest
(``ParseLine``, ``class.nmea.parser.php:103-114``); our engine's
primary source is the columnar parquet scan — predicate pushdown and
column pruning reach the row-group level for free via Catalyst.

At 100 TB the fact tables (``lineitem``, ``orders``, ``events``) would
be date-partitioned on disk (``l_shipdate``/``o_orderdate``/``ts``) so
static + dynamic partition pruning applies; the loader below is
layout-agnostic — ``spark.read.parquet`` handles both flat and
hive-partitioned layouts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from gps_stream_processing_spark.schemas import TESTDATA_TABLES
from gps_stream_processing_spark.session import require_conf

# Dimension tables small enough to broadcast at every scale factor the
# TPC-H-ish schema supports (region/nation are bounded; the others grow
# sublinearly vs the facts). Fact tables must never be broadcast.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "customer", "part"})

# Memoized source DataFrames per (application, sf_dir, table): a
# DataFrame is an immutable logical plan, safe to share across queries
# in one session, and re-creating one costs a driver-side file listing
# + footer schema read per call — ~50 ms × (130 queries × ~2 tables) of
# pure metadata overhead in a full verification sweep. Keyed by
# applicationId (not id(spark) — CPython reuses addresses after GC);
# entries for stopped applications are a few retained logical plans,
# bounded by |apps| × |tables|.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = _TABLE_CACHE[key] = _load_table(spark, sf_dir, name)
    return df


def _load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown testdata table {name!r}; known: {TESTDATA_TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return read_events(spark, path, "load_table('events')")
    return spark.read.parquet(path)


def read_events(
    spark: SparkSession, path: str, what: str, stream_dir: str | None = None
) -> DataFrame:
    """The events parquet at ``path`` with ``ts`` as the session-UTC
    TimestampType every downstream plan expects: a batch read, or with
    ``stream_dir`` a file stream over that directory read with the
    batch read's schema (a streaming source must never infer).

    events.ts has shipped as TIMESTAMP(NANOS) in some testdata
    generations (which Spark's parquet reader rejects,
    [PARQUET_TYPE_ILLEGAL]) and TIMESTAMP(MICROS, NTZ) in others.
    Nanos are read as long (the session's legacy conf, checked here
    since the scan reads it) and truncated to micros with integer
    division (`div`, not `/` — the ns epoch ≈ 1.7e18 exceeds double's
    53-bit mantissa), matching DuckDB's ns→µs truncation bit-for-bit.
    NTZ→TimestampType reinterprets the wall-clock in the session TZ;
    epoch equality with the nanos path (and with DuckDB's naive-UTC
    oracle timestamps) holds only under UTC sessions. get_spark pins
    it, but any session may call — fail loudly instead of silently
    shifting timestamps and watermarks."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    require_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", what)
    df = spark.read.parquet(path)
    if stream_dir is not None:
        df = spark.readStream.schema(df.schema).parquet(stream_dir)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    require_conf(spark, "spark.sql.session.timeZone", f"{what} NTZ->timestamp cast")
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TESTDATA_TABLES)}


def read_json_events(spark: SparkSession, path: str) -> DataFrame:
    """Auxiliary JSON ingestion (SURVEY §2.1 csv/json read) with an
    explicit schema — schema inference is a full extra pass at scale."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return spark.read.schema(schema).json(path)
