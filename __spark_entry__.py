"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship NMEA windowed query (SURVEY §7 step 1)
plus an events-table twin at sf0.001. ``queries()``/``oracle_sql()``
expose the full SURVEY §2 operator inventory from the engine's plan
registry (gps_stream_processing_spark.plans) — one entry per operator,
each SQL-expressible one paired with its DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gps_stream_processing_spark import plans  # noqa: E402  (populates registry)
from gps_stream_processing_spark.operators.gps_fix import (  # noqa: E402
    dop_quality_band,
    flagship_query,
)
from gps_stream_processing_spark.sources.nmea import nmea_fixture_df  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Two layers fused: the NMEA fixture stream through the full
    parse→forward-fill→merge pipeline into the per-track 5-minute
    quality-banded window agg, unioned with the analogous windowed agg
    over the sf0.001 events table (same output schema) — exercising
    source→project→scalar→merge→window-agg→filter in one plan.
    """
    from pyspark.sql import functions as F

    from gps_stream_processing_spark.plans.registry import tune_session
    from gps_stream_processing_spark.sources.tables import load_table

    # Registry queries are tuned by their wrapper; entry() loads tables
    # directly, so tune here (UTC session, Arrow, sized shuffle width).
    tune_session(spark, SF_SMOKE)
    gps = flagship_query(nmea_fixture_df(spark, n_tracks=3, n_seconds=120))
    events = load_table(spark, SF_SMOKE, "events")
    ev = (
        events.groupBy(
            F.col("user_id").alias("track_id"),
            F.window("ts", "5 minutes").alias("win"),
            dop_quality_band(F.col("value") / 50.0).alias("quality"),
        )
        .agg(
            F.count("*").alias("n_fixes"),
            F.round(F.avg("value"), 3).alias("avg_speed_knots"),
            F.round(F.avg(F.col("value") / 50.0), 3).alias("avg_hdop"),
            F.round(F.avg("user_id"), 3).alias("avg_sats"),
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
    return gps.unionByName(ev)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (engine plan
    registry; every computed column aliased to match the oracle), in
    sorted key order."""
    return plans.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for every registered query that has
    one (today every key), in sorted key order."""
    return plans.oracle_sql()
