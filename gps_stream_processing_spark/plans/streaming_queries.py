"""Structured Streaming queries (SURVEY §2.8). Tumbling/sliding/dedup
and both stream-stream interval joins run as true streams (availableNow
replay → memory sink) with exact batch-SQL oracles; append-mode session
windows and the left-outer join model the final watermark explicitly in
their oracles (deterministic under availableNow).

The reference *is* a stream processor (push-based ParseLine,
class.nmea.parser.php:103) with no windows/watermarks — these are the
engine surface the north star mandates on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gps_stream_processing_spark.plans.nmea_oracle import ORACLE_STREAM_FIX_MERGE
from gps_stream_processing_spark.plans.registry import register, table
from gps_stream_processing_spark.session import scoped_conf
from gps_stream_processing_spark.streaming.runner import (
    events_stream,
    rocksdb_state_store,
    run_available_now,
    tws_state_partitions,
    unload_idle_state_stores,
)
from gps_stream_processing_spark.workdir import land_dir


@register(
    "q_stream_tumbling",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    doc="Tumbling 1-day window aggregate executed as a real stream "
    "(availableNow replay); oracle is the batch date_trunc equivalent "
    "(SURVEY §2.8).",
)
def q_stream_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    agg = (
        events_stream(spark, sf)
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    out = run_available_now(agg, output_mode="complete")
    return out.select(
        F.col("win.start").alias("window_start"), "event_type", "n", "sum_value"
    )


@register(
    "q_stream_sliding",
    oracle="""
    SELECT window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM (
      SELECT unnest([date_trunc('day', ts) - INTERVAL 1 DAY,
                     date_trunc('day', ts)]) AS window_start,
             event_type, value
      FROM events
    ) GROUP BY 1, 2
    """,
    doc="Sliding window (2-day window, 1-day slide) as a real stream; "
    "each event belongs to 2 windows — oracle expands them via unnest "
    "(SURVEY §2.8).",
)
def q_stream_sliding(spark: SparkSession, sf: str) -> DataFrame:
    agg = (
        events_stream(spark, sf)
        .groupBy(F.window("ts", "2 days", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    out = run_available_now(agg, output_mode="complete")
    return out.select(
        F.col("win.start").alias("window_start"), "event_type", "n", "sum_value"
    )


@register(
    "q_stream_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0
             END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
    doc="Gap-based sessionization (30-min gap) via the session_window "
    "operator — the trajectory/session splitter for GPS tracks; oracle "
    "is the classic gaps-and-islands SQL. New session when the gap is "
    "≥ the timeout, matching Spark's [ts, ts+gap) extension semantics "
    "(SURVEY §2.8).",
)
def q_stream_session(spark: SparkSession, sf: str) -> DataFrame:
    e = table(spark, sf, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "q_stream_fix_merge",
    oracle=ORACLE_STREAM_FIX_MERGE,
    doc="The reference's core stateful op in streaming form (SURVEY "
    "§2.5/§2.8): NMEA sentences as an offset-bearing JSON stream → "
    "parse_sentences → applyInPandasWithState keyed per track "
    "($CurrentUTC forward-fill + last-wins merge inside the state fn, "
    "streaming/stateful.merge_batch). Each micro-batch emits only the "
    "fix-seconds it touched, plus, once each, those it evicted past the "
    "64-open-fix bound as is_final. Full oracle: availableNow replay over "
    "the committed fixture reproduces the batch merge "
    "(plans/nmea_oracle.py), with is_final mirroring the eviction bound.",
)
def q_stream_fix_merge(spark: SparkSession, sf: str) -> DataFrame:

    from gps_stream_processing_spark.operators.gps_fix import parse_sentences
    from gps_stream_processing_spark.streaming.stateful import (
        nmea_json_stream,
        streaming_fix_merge,
        write_nmea_fixture_json,
    )

    d = land_dir("nmea_stream", sf)
    import os

    if not os.path.exists(os.path.join(d, "nmea.jsonl")):
        write_nmea_fixture_json(d, n_tracks=3, n_seconds=120)
    parsed = parse_sentences(nmea_json_stream(spark, d))
    return run_available_now(streaming_fix_merge(parsed), output_mode="update")


@register(
    "q_stream_stream_left_join",
    # The inner part emits every matched pair; an unmatched view emits
    # null-padded only when its join state is evicted, i.e. when the
    # final GLOBAL watermark passes view_ts + 12h (the range bound).
    # The global watermark is the MIN of the two sides' watermarks —
    # each side tracks its own ms-floored max event time minus its
    # delay, over only the rows that reach its watermark node (the
    # event-type filter runs first). Deterministic under availableNow
    # → exact oracle.
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    v AS (SELECT event_id AS view_id, user_id, ts FROM e WHERE event_type = 'view'),
    c AS (SELECT event_id AS click_id, user_id, ts FROM e WHERE event_type = 'click'),
    mx AS (SELECT least(
             (SELECT to_timestamp(floor(epoch_ms(max(ts)) / 1000.0 * 1000) / 1000.0) FROM v),
             (SELECT to_timestamp(floor(epoch_ms(max(ts)) / 1000.0 * 1000) / 1000.0) FROM c)
           ) - INTERVAL 1 HOUR AS wm),
    matched AS (
      SELECT v.view_id, c.click_id, v.user_id,
             (epoch_us(c.ts) - epoch_us(v.ts)) // 1000000 AS lag_sec
      FROM v JOIN c ON v.user_id = c.user_id
       AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 12 HOUR
    ),
    unmatched AS (
      SELECT v.view_id, CAST(NULL AS BIGINT) AS click_id, v.user_id,
             CAST(NULL AS BIGINT) AS lag_sec
      FROM v, mx
      WHERE v.ts + INTERVAL 12 HOUR < mx.wm
        AND NOT EXISTS (
          SELECT 1 FROM c WHERE c.user_id = v.user_id
           AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 12 HOUR)
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    doc="Stream-stream LEFT OUTER interval join (SURVEY §2.8): like "
    "q_stream_stream_join but views with no click inside the bound "
    "emit null-padded once the watermark evicts their join state — "
    "the late-null-emission contract that distinguishes outer "
    "stream-stream joins. Views still open at stream end stay "
    "unemitted (state, not loss).",
)
def q_stream_stream_left_join(spark: SparkSession, sf: str) -> DataFrame:
    views = (
        events_stream(spark, sf)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        events_stream(spark, sf)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        F.expr(
            "user_id = click_user_id AND click_ts >= view_ts "
            "AND click_ts <= view_ts + INTERVAL 12 HOURS"
        ),
        "leftOuter",
    )
    # state_partitions=4: a stream-stream join opens 4 state stores per
    # partition (two sides x two maps); at smoke scale fewer, larger
    # stores win (measured 2.4s -> 1.8s at sf0.1). Scales UP with state.
    out = run_available_now(joined, output_mode="append", state_partitions=4)
    return out.select(
        "view_id",
        "click_id",
        "user_id",
        F.expr(
            "(unix_micros(click_ts) - unix_micros(view_ts)) div 1000000"
        ).alias("lag_sec"),
    )


@register(
    "q_stream_stream_full_join",
    # Completes the interval-join mode family next to the left-outer
    # twin: null-padding now fires on BOTH sides at state eviction.
    # Eviction bounds derive from the range condition per side:
    #   views  evict when wm > view_ts + 12h  (future clicks all have
    #          click_ts > wm, so none can satisfy click_ts <= ts+12h)
    #   clicks evict when wm > click_ts       (future views all have
    #          view_ts > wm, so none can satisfy click_ts >= view_ts)
    # Both strict (<), matching the left twin's probed boundary.
    # Deterministic under availableNow → exact oracle.
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
               FROM events),
    v AS (SELECT event_id AS view_id, user_id, ts FROM e WHERE event_type = 'view'),
    c AS (SELECT event_id AS click_id, user_id, ts FROM e WHERE event_type = 'click'),
    mx AS (SELECT least(
             (SELECT to_timestamp(floor(epoch_ms(max(ts)) / 1000.0 * 1000) / 1000.0) FROM v),
             (SELECT to_timestamp(floor(epoch_ms(max(ts)) / 1000.0 * 1000) / 1000.0) FROM c)
           ) - INTERVAL 1 HOUR AS wm),
    matched AS (
      SELECT v.view_id, c.click_id, v.user_id,
             (epoch_us(c.ts) - epoch_us(v.ts)) // 1000000 AS lag_sec
      FROM v JOIN c ON v.user_id = c.user_id
       AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 12 HOUR
    ),
    unmatched_v AS (
      SELECT v.view_id, CAST(NULL AS BIGINT) AS click_id, v.user_id,
             CAST(NULL AS BIGINT) AS lag_sec
      FROM v, mx
      WHERE v.ts + INTERVAL 12 HOUR < mx.wm
        AND NOT EXISTS (
          SELECT 1 FROM c WHERE c.user_id = v.user_id
           AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 12 HOUR)
    ),
    unmatched_c AS (
      SELECT CAST(NULL AS BIGINT) AS view_id, c.click_id, c.user_id,
             CAST(NULL AS BIGINT) AS lag_sec
      FROM c, mx
      WHERE c.ts < mx.wm
        AND NOT EXISTS (
          SELECT 1 FROM v WHERE v.user_id = c.user_id
           AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 12 HOUR)
    )
    SELECT * FROM matched
    UNION ALL SELECT * FROM unmatched_v
    UNION ALL SELECT * FROM unmatched_c
    """,
    doc="Stream-stream FULL OUTER interval join (SURVEY §2.8): the "
    "remaining member of the join-mode family next to "
    "q_stream_stream_left_join — clicks with no view inside the bound "
    "ALSO emit null-padded once the watermark evicts their join state "
    "(the CDC-reconciliation shape: neither side's orphans may be "
    "dropped). Rows still open at stream end stay unemitted on both "
    "sides (state, not loss). Same state sizing as the left twin.",
)
def q_stream_stream_full_join(spark: SparkSession, sf: str) -> DataFrame:
    views = (
        events_stream(spark, sf)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        events_stream(spark, sf)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        F.expr(
            "user_id = click_user_id AND click_ts >= view_ts "
            "AND click_ts <= view_ts + INTERVAL 12 HOURS"
        ),
        "fullOuter",
    )
    out = run_available_now(joined, output_mode="append", state_partitions=4)
    return out.select(
        "view_id",
        "click_id",
        # each side's key survives only on its own rows — coalesce for
        # the unified output (null-padded clicks carry click_user_id)
        F.coalesce("user_id", "click_user_id").alias("user_id"),
        F.expr(
            "(unix_micros(click_ts) - unix_micros(view_ts)) div 1000000"
        ).alias("lag_sec"),
    )


# The keys whose REGISTRATION is gated on the protobuf probe below —
# the single source of truth for "how many keys does this environment
# lack": tools/check_counts.py subtracts these from the documented
# full-registry count when the probe fails, and
# tests/test_entry.py::test_tws_key_presence_matches_capability
# asserts presence tracks the probe for every listed key.
TWS_GATED_KEYS = (
    "q_stream_tws_ewma",
    "q_stream_tws_holt",
    "q_stream_tws_holt_winters",
    "q_stream_tws_forecast",
    "q_stream_tws_anomaly",
    "q_stream_tws_fix_merge",
    "q_stream_tws_init_state",
    "q_stream_tws_map_state",
    "q_stream_tws_recent_k",
    "q_stream_tws_timer_list",
    "q_stream_tws_timers",
)


def _tws_available() -> bool:
    """``transformWithStateInPandas`` boots Python workers that speak
    protobuf to the JVM state server; without ``google.protobuf`` they
    crash at init. The probe (streaming/protobuf_compat.py) first tries
    the native import, then discovers a pure-Python protobuf runtime at
    well-known public install locations (e.g. the Cloud SDK's vendored
    copy) and verifies the pyspark gencode round-trips against it — so
    the query registers exactly where the API can actually run. Worker
    propagation rides ``registry.tune_session`` →
    ``configure_worker_env``."""
    from gps_stream_processing_spark.streaming.protobuf_compat import (
        tws_available,
    )

    return tws_available()


def q_stream_tws_fix_merge(spark: SparkSession, sf: str) -> DataFrame:
    import os

    from gps_stream_processing_spark.operators.gps_fix import parse_sentences
    from gps_stream_processing_spark.streaming.stateful import (
        nmea_json_stream,
        streaming_fix_merge_tws,
        write_nmea_fixture_json,
    )

    d = land_dir("nmea_stream", sf)
    if not os.path.exists(os.path.join(d, "nmea.jsonl")):
        write_nmea_fixture_json(d, n_tracks=3, n_seconds=120)
    with rocksdb_state_store(spark):
        parsed = parse_sentences(nmea_json_stream(spark, d))
        return run_available_now(
            streaming_fix_merge_tws(parsed),
            output_mode="update",
            state_partitions=tws_state_partitions(),
        )


def q_stream_tws_ewma(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.streaming.runner import events_stream
    from gps_stream_processing_spark.streaming.stateful import (
        streaming_ewma_tws,
    )

    with rocksdb_state_store(spark):
        ev = events_stream(spark, sf)
        out = run_available_now(
            streaming_ewma_tws(ev),
            output_mode="update",
            state_partitions=tws_state_partitions(),
        )
        # presentation rounding happens HERE (Spark-side, the same
        # F.round as the batch q_ewma) — the processor state and its
        # emissions stay raw doubles so the recursion never re-rounds
        return out.select(
            "user_id", "n_events", F.round("ewma", 6).alias("ewma")
        )


def q_stream_tws_holt(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.streaming.runner import events_stream
    from gps_stream_processing_spark.streaming.stateful import (
        streaming_holt_tws,
    )

    with rocksdb_state_store(spark):
        ev = events_stream(spark, sf)
        out = run_available_now(
            streaming_holt_tws(ev),
            output_mode="update",
            state_partitions=tws_state_partitions(),
        )
        # rounding + the h-step forecast derive HERE (Spark-side, the
        # same expressions as the batch q_holt_linear) — the processor
        # state stays raw doubles
        return out.select(
            "user_id",
            "n_events",
            F.round("level", 6).alias("level"),
            F.round("trend", 6).alias("trend"),
            F.round(
                F.col("level") + F.lit(7.0) * F.col("trend"), 6
            ).alias("forecast_7"),
        )


def q_stream_tws_holt_winters(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.streaming.runner import events_stream
    from gps_stream_processing_spark.streaming.stateful import (
        streaming_holt_winters_tws,
    )

    with rocksdb_state_store(spark):
        ev = events_stream(spark, sf)
        out = run_available_now(
            streaming_holt_winters_tws(ev),
            output_mode="update",
            state_partitions=tws_state_partitions(),
        )
        # rounding + the 1-/7-step seasonal forecasts derive HERE with
        # the batch q_holt_winters expression tree (level + 1.0*trend +
        # s, NULL-propagating like try_element_at) — the processor
        # state and emissions stay raw doubles
        z = F.lit(0.0)
        return out.select(
            "event_type",
            "n_days",
            (F.round("level", 6) + z).alias("level"),
            (F.round("trend", 6) + z).alias("trend"),
            (
                F.round(
                    F.col("level")
                    + F.lit(1.0) * F.col("trend")
                    + F.col("s_next"),
                    6,
                )
                + z
            ).alias("forecast_1"),
            (
                F.round(
                    F.col("level")
                    + F.lit(7.0) * F.col("trend")
                    + F.col("s_last"),
                    6,
                )
                + z
            ).alias("forecast_7"),
        )


def q_stream_tws_forecast(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import uuid

    from gps_stream_processing_spark.streaming.runner import make_latest_upsert
    from gps_stream_processing_spark.streaming.stateful import (
        streaming_holt_tws,
    )

    base = os.path.join(land_dir("tws_forecast", sf), uuid.uuid4().hex)
    serving = os.path.join(base, "serving")
    ckpt = os.path.join(base, "ckpt")
    # latest emission per user wins — the serving table IS the
    # dashboard's current forecast set
    upsert = make_latest_upsert(spark, serving, "user_id")

    try:
        with scoped_conf(
            spark, {"spark.sql.shuffle.partitions": str(tws_state_partitions())}
        ), rocksdb_state_store(spark):
            out = streaming_holt_tws(events_stream(spark, sf))
            q = (
                out.writeStream.outputMode("update")
                .foreachBatch(upsert)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        unload_idle_state_stores(spark)
    # serving stores RAW state doubles; presentation rounding and
    # the h-step forecasts derive at READ time with the batch
    # q_holt_linear expression tree. The result is snapshotted
    # (eager localCheckpoint) and the per-call uuid dir removed —
    # a bench/driver session calls this key repeatedly and must
    # not accumulate O(#users) serving tables on disk (the
    # run_available_now memory-sink hygiene discipline).
    z = F.lit(0.0)
    res = (
        spark.read.parquet(serving)
        .select(
            "user_id",
            "n_events",
            (F.round("level", 6) + z).alias("level"),
            (F.round("trend", 6) + z).alias("trend"),
            (
                F.round(
                    F.col("level") + F.lit(1.0) * F.col("trend"), 6
                )
                + z
            ).alias("forecast_1"),
            (
                F.round(
                    F.col("level") + F.lit(7.0) * F.col("trend"), 6
                )
                + z
            ).alias("forecast_7"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return res


def q_stream_tws_anomaly(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.streaming.runner import events_stream
    from gps_stream_processing_spark.streaming.stateful import (
        streaming_ew_anomaly_tws,
    )

    with rocksdb_state_store(spark):
        ev = events_stream(spark, sf)
        out = run_available_now(
            streaming_ew_anomaly_tws(ev),
            output_mode="update",
            state_partitions=tws_state_partitions(),
        )
        # presentation rounding HERE — processor state stays raw
        z = F.lit(0.0)
        return out.select(
            "user_id",
            "n_events",
            (F.round("ew_mean", 6) + z).alias("ew_mean"),
            (F.round("ew_var", 6) + z).alias("ew_var"),
            "n_anomalies",
        )


def q_stream_tws_timers(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.streaming.runner import events_stream
    from gps_stream_processing_spark.streaming.stateful import (
        streaming_activity_close_tws,
    )

    with rocksdb_state_store(spark):
        ev = events_stream(spark, sf)
        return run_available_now(
            streaming_activity_close_tws(ev),
            output_mode="update",
            state_partitions=tws_state_partitions(),
        )


def q_stream_tws_timer_list(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.streaming.runner import events_stream
    from gps_stream_processing_spark.streaming.stateful import (
        streaming_session_cache_tws,
    )

    with rocksdb_state_store(spark):
        ev = events_stream(spark, sf)
        return run_available_now(
            streaming_session_cache_tws(ev),
            output_mode="update",
            state_partitions=tws_state_partitions(),
        )


def q_stream_tws_map_state(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.streaming.runner import events_stream
    from gps_stream_processing_spark.streaming.stateful import (
        streaming_type_counts_tws,
    )

    with rocksdb_state_store(spark):
        ev = events_stream(spark, sf)
        return run_available_now(
            streaming_type_counts_tws(ev),
            output_mode="update",
            state_partitions=tws_state_partitions(),
        )


def q_stream_tws_recent_k(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.streaming.runner import (
        events_stream,
        run_data_drained,
    )
    from gps_stream_processing_spark.streaming.stateful import (
        streaming_recent_k_tws,
    )

    with rocksdb_state_store(spark):
        ev = events_stream(spark, sf)
        # run_data_drained, NOT availableNow/processAllAvailable: in
        # timeMode=ProcessingTime (required to arm state TTL) the
        # engine schedules "no new data but cleaning up state"
        # maintenance batches forever, so neither terminator's
        # quiescence condition is ever met — the drained-commit poll in
        # the runner is the terminating drive for this mode.
        return run_data_drained(
            streaming_recent_k_tws(ev),
            output_mode="update",
            state_partitions=tws_state_partitions(),
        )


# Full oracle for the ListState last-k retention: per user, the 5 most
# recent events by (ms-floored event time, event_id) — the exact order
# key the processor trims on, so micro-batch boundaries cannot move the
# kept set. Ties inside one ms are broken by the unique event_id on
# both sides.
ORACLE_STREAM_TWS_RECENT_K = """
    WITH ranked AS (
      SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY epoch_ms(ts) DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_recent,
           ROUND(SUM(value), 2) AS sum_recent_value,
           make_timestamp(MAX(ts_ms) * 1000) AS last_ts
    FROM ranked WHERE rn <= 5 GROUP BY user_id
"""


# Full oracle for the event-time-timer close-out: a user's visit closes
# iff their timer (last event ms + 30 min) falls behind the final
# watermark (global max event ms - 10 min). Event times are ms-truncated
# on both sides (the watermark's own resolution); the fixture keeps
# every user minutes away from the boundary, so <= vs < cannot flip a
# row (both verified equal at sf0.001 and sf0.01).
ORACLE_STREAM_TWS_TIMERS = """
    WITH u AS (
      SELECT user_id, epoch_ms(max(ts)) AS mx_ms,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    w AS (SELECT epoch_ms(max(ts)) - 600000 AS wm_ms FROM events)
    SELECT u.user_id, u.n_events,
           make_timestamp(u.mx_ms * 1000) AS last_ts
    FROM u, w WHERE u.mx_ms + 1800000 < w.wm_ms
"""


if not _tws_available():
    # One loud line instead of a silent key-set drift: the registry count
    # differs across environments only because of this gate.
    import warnings

    warnings.warn(
        "q_stream_tws_fix_merge / q_stream_tws_timers not registered: "
        "transformWithStateInPandas needs google.protobuf, absent in "
        "this environment",
        stacklevel=1,
    )
else:
    q_stream_tws_ewma = register(
        "q_stream_tws_ewma",
        # Same recursion, same fold order, same literals as the batch
        # q_ewma oracle: y_t = acc*0.8 + x*0.2 over each user's
        # (ts, event_id)-ordered values, first value as init. The
        # availableNow one-file replay folds every user's history in
        # one batch, so the streaming emission IS the batch fold —
        # bit-identical doubles, rounded 6 dp Spark-side like q_ewma.
        oracle="""
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(list_reduce(list(CAST(value AS DOUBLE)
                     ORDER BY ts, event_id),
                     (acc, x) -> acc * CAST(0.8 AS DOUBLE)
                                 + x * CAST(0.2 AS DOUBLE)), 6) AS ewma
        FROM events GROUP BY user_id
        """,
        doc="O(1)-per-key STREAMING EWMA on transformWithStateInPandas "
        "ValueState (SURVEY §2.8 — the unbounded-key twin that "
        "q_ewma/q_holt_linear's docstrings name as their 100 TB scale "
        "path, shipped: VERDICT r14 item 1): per-user state is just "
        "(n, y_(t-1)) — 16 bytes per key forever, versus the batch "
        "fold's full-history aggregation buffer — each batch folds its "
        "(ts, event_id)-sorted rows into the carried value with the "
        "exact IEEE sequence of the batch fold, so the availableNow "
        "replay is bit-identical to q_ewma per user. At scale: state "
        "O(#keys), work O(batch), no collect_list anywhere; a hot key "
        "with 10^8 events costs the same state as a cold one.",
    )(q_stream_tws_ewma)

    q_stream_tws_holt = register(
        "q_stream_tws_holt",
        # The q_holt_linear oracle verbatim: same recursion, same fold
        # order, same literals, same LIST-accumulator encoding (the
        # DuckDB struct-mutation pitfall), init (x1, 0). availableNow
        # folds every user in one batch -> streaming == batch fold.
        oracle="""
        SELECT user_id, CAST(cnt AS BIGINT) AS n_events,
               ROUND(hw[1], 6) AS level,
               ROUND(hw[2], 6) AS trend,
               ROUND(hw[1] + CAST(7 AS DOUBLE) * hw[2], 6) AS forecast_7
        FROM (
          SELECT user_id, COUNT(*) AS cnt,
                 list_reduce(
                   list_transform(
                     list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                     x -> [x, CAST(0 AS DOUBLE)]),
                   (acc, x) -> [
                     CAST(0.3 AS DOUBLE) * x[1]
                     + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2]),
                     CAST(0.1 AS DOUBLE)
                     * ((CAST(0.3 AS DOUBLE) * x[1]
                         + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2]))
                        - acc[1])
                     + CAST(0.9 AS DOUBLE) * acc[2]]) AS hw
          FROM events GROUP BY user_id
        ) t(user_id, cnt, hw)
        """,
        doc="O(1)-state STREAMING Holt linear-trend smoothing on "
        "transformWithStateInPandas ValueState (SURVEY §2.8 — the "
        "(l, b) sibling of q_stream_tws_ewma, so BOTH batch "
        "collect-then-fold smoothers now have their shipped "
        "unbounded-key twin): per-user state is (n, level, trend) — "
        "24 bytes per key forever — each batch folds its "
        "(ts, event_id)-sorted values with the exact IEEE expression "
        "tree of the batch fold (new level recomputed inside the "
        "trend update), so the availableNow replay is bit-identical "
        "to q_holt_linear per user, h-step forecast derived at "
        "emission. At scale: state O(#keys), work O(batch).",
    )(q_stream_tws_holt)

    q_stream_tws_holt_winters = register(
        "q_stream_tws_holt_winters",
        # The q_holt_winters oracle VERBATIM (plans/relational.py):
        # same day grid, same seed, same flat 9-list fold, same
        # literals — the availableNow one-batch replay folds every
        # type's full day series, so streaming == batch bit-for-bit.
        oracle="""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   AS cents
          FROM events GROUP BY event_type, CAST(ts AS DATE)
        ), series AS (
          SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
                 list(cents ORDER BY day) AS vals
          FROM daily GROUP BY event_type
        ), seeded AS (
          SELECT event_type, n_days, vals,
                 list_sum(vals[1:7]) / CAST(7 AS DOUBLE) AS l0
          FROM series
        ), folded AS (
          SELECT event_type, n_days,
            list_reduce(
              list_concat(
                [list_concat([l0, CAST(0 AS DOUBLE)],
                             list_transform(vals[1:7], x -> x - l0))],
                list_transform(vals[8:], x -> [x,
                  CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                  CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                  CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
              (acc, e) -> list_concat(list_concat(
                [CAST(0.3 AS DOUBLE) * (e[1] - acc[3])
                   + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2]),
                 CAST(0.1 AS DOUBLE)
                   * ((CAST(0.3 AS DOUBLE) * (e[1] - acc[3])
                       + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2])) - acc[1])
                   + CAST(0.9 AS DOUBLE) * acc[2]],
                acc[4:9]),
                [CAST(0.2 AS DOUBLE)
                   * (e[1] - (CAST(0.3 AS DOUBLE) * (e[1] - acc[3])
                              + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2])))
                   + CAST(0.8 AS DOUBLE) * acc[3]])) AS hw
          FROM seeded
        )
        SELECT event_type, n_days,
               ROUND(hw[1], 6) + 0.0 AS level,
               ROUND(hw[2], 6) + 0.0 AS trend,
               ROUND(hw[1] + CAST(1 AS DOUBLE) * hw[2] + hw[3], 6) + 0.0
                 AS forecast_1,
               ROUND(hw[1] + CAST(7 AS DOUBLE) * hw[2] + hw[9], 6) + 0.0
                 AS forecast_7
        FROM folded
        """,
        doc="O(1)-state STREAMING Holt-Winters additive seasonal "
        "smoothing on transformWithStateInPandas ValueState (SURVEY "
        "§2.8 — the SEASONAL member completing the streaming smoother "
        "family q_stream_tws_ewma → q_stream_tws_holt → here, the "
        "twin the batch q_holt_winters names as its unbounded-key "
        "path: VERDICT r15 item 3): per-type state is the batch "
        "fold's flat 9-list [l, b, s1..s7] plus the pre-seed buffer "
        "and the trailing OPEN day's exact integer cents — bounded "
        "~150 bytes per key forever. Days close (cast to double, "
        "fold) only when a later day arrives; each emission folds the "
        "open day virtually, so a day split across micro-batches "
        "folds exactly once with its full total and every emission "
        "equals the batch fold over the days seen so far. "
        "availableNow replay is bit-identical to q_holt_winters "
        "(identical IEEE expression tree, literals written directly); "
        "1-/7-step seasonal forecasts derive Spark-side at emission. "
        "At scale: state O(#keys), work O(batch), the day grid never "
        "materializes anywhere.",
    )(q_stream_tws_holt_winters)

    q_stream_tws_forecast = register(
        "q_stream_tws_forecast",
        # The q_holt_linear fold oracle with the 1-step forecast
        # column added: the serving table holds the LATEST emission
        # per user, which after the availableNow replay is the full
        # batch fold — so the dashboard read equals the batch
        # forecast at the final watermark.
        oracle="""
        SELECT user_id, CAST(cnt AS BIGINT) AS n_events,
               ROUND(hw[1], 6) + 0.0 AS level,
               ROUND(hw[2], 6) + 0.0 AS trend,
               ROUND(hw[1] + CAST(1 AS DOUBLE) * hw[2], 6) + 0.0
                 AS forecast_1,
               ROUND(hw[1] + CAST(7 AS DOUBLE) * hw[2], 6) + 0.0
                 AS forecast_7
        FROM (
          SELECT user_id, COUNT(*) AS cnt,
                 list_reduce(
                   list_transform(
                     list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                     x -> [x, CAST(0 AS DOUBLE)]),
                   (acc, x) -> [
                     CAST(0.3 AS DOUBLE) * x[1]
                     + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2]),
                     CAST(0.1 AS DOUBLE)
                     * ((CAST(0.3 AS DOUBLE) * x[1]
                         + CAST(0.7 AS DOUBLE) * (acc[1] + acc[2]))
                        - acc[1])
                     + CAST(0.9 AS DOUBLE) * acc[2]]) AS hw
          FROM events GROUP BY user_id
        ) t(user_id, cnt, hw)
        """,
        doc="LIVE FORECAST SERVING — the composed end-to-end 'capacity "
        "dashboard' key (SURVEY §2.8, VERDICT r15 item 8): the "
        "q_stream_tws_holt O(1)-state smoother's per-batch emissions "
        "flow through the q_stream_upsert_sink atomic-swap upsert "
        "keyed by user_id, so the serving parquet always holds each "
        "user's LATEST (n, level, trend) and the dashboard derives "
        "1-/7-step forecasts at read time. Zero new state machinery — "
        "two shipped pieces composed; oracle = the batch fold at the "
        "final watermark (the serving table's defining property). At "
        "scale: state O(#keys) in RocksDB, serving table O(#keys), "
        "per-batch work O(batch) + an O(#keys) merge-swap (in "
        "production the sink is a MERGE INTO a lakehouse table - "
        "plan shape identical).",
    )(q_stream_tws_forecast)

    q_stream_tws_anomaly = register(
        "q_stream_tws_anomaly",
        # The same fold in DuckDB: 4-list state [m, v, na, n], lifted
        # first element as init ([x1, 0, 0, 1]), flag scored from the
        # PRE-update state (n >= 5 warm-up), RiskMetrics EW variance
        # with the OLD mean in the deviation — identical expression
        # trees, sqrt is IEEE on both engines.
        oracle="""
        SELECT user_id, CAST(st[4] AS BIGINT) AS n_events,
               ROUND(st[1], 6) + 0.0 AS ew_mean,
               ROUND(st[2], 6) + 0.0 AS ew_var,
               CAST(st[3] AS BIGINT) AS n_anomalies
        FROM (
          SELECT user_id,
            list_reduce(
              list_concat(
                [[vals[1], CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                  CAST(1 AS DOUBLE)]],
                list_transform(vals[2:], x -> [x,
                  CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
                  CAST(0 AS DOUBLE)])),
              (acc, e) -> [
                acc[1] * CAST(0.8 AS DOUBLE) + e[1] * CAST(0.2 AS DOUBLE),
                acc[2] * CAST(0.8 AS DOUBLE)
                  + (e[1] - acc[1]) * (e[1] - acc[1])
                    * CAST(0.2 AS DOUBLE),
                acc[3] + CASE WHEN acc[4] >= CAST(5 AS DOUBLE)
                               AND ABS(e[1] - acc[1])
                                   > CAST(3 AS DOUBLE) * sqrt(acc[2])
                              THEN CAST(1 AS DOUBLE)
                              ELSE CAST(0 AS DOUBLE) END,
                acc[4] + CAST(1 AS DOUBLE)]) AS st
          FROM (
            SELECT user_id,
                   list(CAST(value AS DOUBLE) ORDER BY ts, event_id)
                     AS vals
            FROM events GROUP BY user_id
          ) s(user_id, vals)
        ) t(user_id, st)
        """,
        doc="O(1)-state STREAMING ANOMALY detection on "
        "transformWithStateInPandas ValueState (SURVEY §2.8 — the "
        "live SLO-alert member of the TWS family, pairing the batch "
        "q_anomaly_rolling which needs a 20-row window per key): "
        "per-user state is (n, ew_mean, ew_var, n_anomalies) — 32 "
        "bytes per key forever — each event is scored against the "
        "PRE-update state (flag when n >= 5 and |x - m| > 3*sqrt(v); "
        "no lookahead, warm-up guarded), then the RiskMetrics EW "
        "mean/variance update with the OLD mean in the deviation. "
        "availableNow replay is bit-identical to the DuckDB fold "
        "(IEEE sqrt, literals written directly). At scale: state "
        "O(#keys), work O(batch) — the alert evaluates inline with "
        "ingestion, no windowed re-aggregation pass.",
    )(q_stream_tws_anomaly)

    q_stream_tws_timers = register(
        "q_stream_tws_timers",
        oracle=ORACLE_STREAM_TWS_TIMERS,
        doc="EVENT-TIME TIMERS on transformWithStateInPandas (the "
        "capability the Spark-4 API adds over applyInPandasWithState): "
        "per-user visit close-out where emission is driven purely by "
        "timer expiry against the watermark — each batch re-registers "
        "one timer at last_event + 30 min; when the watermark (max "
        "event time - 10 min) passes it, handleExpiredTimer emits the "
        "closed visit and clears state. availableNow over the one-file "
        "fixture makes the firing set deterministic; full SQL oracle. "
        "At scale this is the production idle-session/TTL-eviction "
        "pattern: state is O(active users) and timers replace the "
        "full-keyspace scan a batch close-out would need.",
    )(q_stream_tws_timers)

    q_stream_tws_timer_list = register(
        "q_stream_tws_timer_list",
        # A user's cache closes iff their timer (last event ms +
        # 30 min) falls behind the final watermark (global max event
        # ms - 10 min); the kept/evicted split compares ms-floored
        # event times against the exact integer cutoff expiry -
        # 60 min. Value sums are exact integer cents (the house
        # cast(round(value*100)) expression on both sides).
        oracle="""
        WITH e AS (
          SELECT user_id, epoch_ms(ts) AS ms,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events
        ), w AS (SELECT epoch_ms(max(ts)) - 600000 AS wm_ms FROM events),
        u AS (SELECT user_id, MAX(ms) AS umax FROM e GROUP BY 1),
        fired AS (
          SELECT u.user_id, u.umax + 1800000 AS expiry FROM u, w
          WHERE u.umax + 1800000 < w.wm_ms
        )
        SELECT f.user_id,
               CAST(SUM(CASE WHEN e.ms >= f.expiry - 3600000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN e.ms < f.expiry - 3600000
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_evicted,
               CAST(SUM(CASE WHEN e.ms >= f.expiry - 3600000
                             THEN e.cents ELSE 0 END) AS BIGINT)
                 AS sum_kept_cents
        FROM fired f JOIN e ON e.user_id = f.user_id
        GROUP BY 1
        """,
        doc="TIMERS x LISTSTATE composition on "
        "transformWithStateInPandas (SURVEY §2.8 — the session-cache "
        "shape: the two state primitives the registry exercised "
        "separately, now composed in ONE processor): per-user events "
        "accumulate as typed ListState entries via per-entry "
        "appendList, each batch re-registers an event-time timer at "
        "last_event + 30 min, and timer expiry EVICTS entries older "
        "than expiry - 60 min before emitting the cache summary "
        "(kept/evicted counts + exact-cents kept sum) — eviction work "
        "happens only on expiry, never as a per-batch keyspace scan; "
        "state per key is bounded by the retention window. "
        "availableNow over the one-file fixture evaluates every timer "
        "against the single final watermark -> full SQL oracle.",
    )(q_stream_tws_timer_list)

    q_stream_tws_map_state = register(
        "q_stream_tws_map_state",
        oracle="""
        SELECT user_id, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id, event_type
        """,
        doc="Typed MapState on transformWithStateInPandas (SURVEY §2.8) "
        "— the third typed state kind, completing the trio (ValueState: "
        "q_stream_tws_fix_merge; ListState: q_stream_tws_recent_k): "
        "per-user map of event_type → running count, updated PER CELL "
        "(only the types touched in a batch round-trip the store) — the "
        "production shape for per-key feature counters where a "
        "ValueState blob would rewrite the whole vector every batch. "
        "availableNow over the one-file fixture emits each user's final "
        "map once → full oracle as the plain per-user-per-type count.",
    )(q_stream_tws_map_state)

    q_stream_tws_recent_k = register(
        "q_stream_tws_recent_k",
        oracle=ORACLE_STREAM_TWS_RECENT_K,
        doc="Typed ListState + state TTL on transformWithStateInPandas "
        "(SURVEY §2.8): per-user last-5-events retention where the "
        "processor trims the list inside every store round-trip — state "
        "is O(k) per key forever — and the state variable carries the "
        "store's own TTL (timeMode=ProcessingTime arms the clock), the "
        "production idle-key eviction that needs no timers or scans. "
        "Kept set is ordered by (ms-floored ts, event_id), a pure "
        "function of the input regardless of batching → full oracle as "
        "a per-user top-5 window. TTL eviction itself is pinned by a "
        "sub-second-TTL two-run checkpoint test (tests/test_streaming).",
    )(q_stream_tws_recent_k)

    q_stream_tws_fix_merge = register(
        "q_stream_tws_fix_merge",
        oracle=ORACLE_STREAM_FIX_MERGE,
        doc="The stateful fix-merge on Spark 4's transformWithStateInPandas "
        "API (typed ValueState on the RocksDB state store — the successor "
        "to applyInPandasWithState, adding timers/TTL/multiple state "
        "variables for production eviction). Same merge core, same fixture, "
        "same full oracle as q_stream_fix_merge (plans/nmea_oracle.py).",
    )(q_stream_tws_fix_merge)


@register(
    "q_stream_dedup",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique
    FROM events GROUP BY event_type
    """,
    doc="Streaming dedup: watermark + dropDuplicates on event_id over the "
    "event stream (SURVEY §2.8). availableNow replays the full stream "
    "inside the watermark, so the deduped count equals the batch "
    "distinct count — full oracle.",
)
def q_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    dedup = (
        events_stream(spark, sf)
        .withWatermark("ts", "1 day")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    return run_available_now(dedup, output_mode="complete", state_partitions=4)


@register(
    "q_stream_static_join",
    oracle="""
    SELECT c.c_nationkey, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
    doc="Stream-static join (SURVEY §2.8): the event stream enriched "
    "with the static customer dim (broadcast — the dim is loaded once "
    "per micro-batch, never shuffled) then aggregated; availableNow "
    "replay makes the result deterministic, so this streaming operator "
    "carries a full batch-SQL oracle.",
)
def q_stream_static_join(spark: SparkSession, sf: str) -> DataFrame:
    dim = table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    agg = (
        events_stream(spark, sf)
        .join(F.broadcast(dim), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_nationkey", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    return run_available_now(agg, output_mode="complete")


@register(
    "q_stream_stream_join",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
               FROM events)
    SELECT v.event_id AS view_id, c.event_id AS click_id,
           v.user_id AS user_id,
           (epoch_us(c.ts) - epoch_us(v.ts)) // 1000000 AS lag_sec
    FROM e v JOIN e c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 12 HOUR
    """,
    doc="Stream-stream interval join (SURVEY §2.8): view events joined "
    "to click events of the same user within 12 hours, both sides "
    "watermarked 1 hour. Spark shuffles both streams onto user_id and "
    "keeps per-partition join state bounded by watermark + range bound "
    "(views ~13h, clicks ~1h) — the state-cleanup contract that makes "
    "this run forever at scale. availableNow over the finite fixture "
    "emits every qualifying pair → exact batch-SQL oracle.",
)
def q_stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    views = (
        events_stream(spark, sf)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        events_stream(spark, sf)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        F.expr(
            "user_id = click_user_id AND click_ts >= view_ts "
            "AND click_ts <= view_ts + INTERVAL 12 HOURS"
        ),
    )
    # state_partitions=4: a stream-stream join opens 4 state stores per
    # partition (two sides x two maps); at smoke scale fewer, larger
    # stores win (measured 2.4s -> 1.8s at sf0.1). Scales UP with state.
    out = run_available_now(joined, output_mode="append", state_partitions=4)
    return out.select(
        "view_id",
        "click_id",
        "user_id",
        F.expr(
            "(unix_micros(click_ts) - unix_micros(view_ts)) div 1000000"
        ).alias("lag_sec"),
    )


@register(
    "q_stream_session_true",
    # Append mode emits exactly the watermark-closed sessions, and the
    # final watermark of an availableNow run is itself deterministic:
    # floor_ms(max event time) - delay (EventTimeWatermarkExec tracks
    # max in ms; the eviction predicate is session_end <= watermark).
    # So the oracle is the gaps-and-islands SQL filtered to sessions
    # with end <= that watermark — exact, not rows-only.
    oracle="""
    WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    mx AS (SELECT to_timestamp(floor(epoch_ms(max(ts)) / 1000.0 * 1000) / 1000.0)
                  - INTERVAL 1 HOUR AS wm
           FROM e),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0
             END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ), agg AS (
      SELECT user_id, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sessions GROUP BY user_id, sid
    )
    SELECT user_id, session_start, n_events FROM agg, mx
    WHERE session_end <= wm
    """,
    doc="TRUE streaming session window (SURVEY §2.8): watermark + "
    "session_window in append mode — only watermark-closed sessions "
    "emit (9525 of 9549 at sf0.01; the rest are open state at stream "
    "end). Exact oracle: gaps-and-islands SQL filtered to sessions "
    "closed under the final deterministic watermark.",
)
def q_stream_session_true(spark: SparkSession, sf: str) -> DataFrame:
    agg = (
        events_stream(spark, sf)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = run_available_now(agg, output_mode="append", state_partitions=4)
    return out.select(
        F.col("win.start").alias("session_start"), "user_id", "n_events"
    )


@register(
    "q_stream_foreachbatch",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
    doc="foreachBatch parquet sink (SURVEY §2.8 'output modes / sinks'): "
    "the event stream lands in a parquet directory batch-by-batch (the "
    "production emission path — atomic per micro-batch, partitionable), "
    "then the re-read rows aggregate to exactly the batch result (full "
    "oracle).",
)
def q_stream_foreachbatch(spark: SparkSession, sf: str) -> DataFrame:

    from gps_stream_processing_spark.streaming.runner import run_foreach_batch_parquet

    out_dir = land_dir("fb", sf)
    landed = run_foreach_batch_parquet(events_stream(spark, sf), out_dir)
    return landed.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


@register(
    "q_custom_stream_sink",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
    doc="Custom Python STREAMING sink (Spark 4 DataSourceStreamWriter, "
    "SURVEY §2.8): the event stream lands through our `jsonl_land` "
    "format's per-micro-batch two-phase commit — tasks write private "
    "temp files, driver-side commit(batchId) publishes them and drops "
    "a _commits/<id> marker whose presence makes a replayed batch "
    "discard its duplicates (at-least-once re-delivery → exactly-once "
    "output, the contract every production streaming sink implements). "
    "Landed rows re-read and aggregate to exactly the batch result — "
    "write-path losslessness as a full oracle, completing the custom-"
    "source story's 2x2: batch/stream read (q_custom_datasource / "
    "q_custom_stream_source) x batch/stream write (q_custom_datasink / "
    "this).",
)
def q_custom_stream_sink(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import uuid

    from gps_stream_processing_spark.sources.nmea_datasource import (
        register_nmea_datasource,
    )

    register_nmea_datasource(spark)
    run = uuid.uuid4().hex
    out = os.path.join(land_dir("ssink", sf), run)
    ckpt = os.path.join(land_dir("ssink_ckpt", sf), run)
    q = (
        events_stream(spark, sf)
        .select("event_type", "user_id", "event_id")
        .writeStream.format("jsonl_land")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    landed = spark.read.schema(
        "event_type string, user_id bigint, event_id bigint"
    ).json(os.path.join(out, "batch-*.jsonl"))
    return landed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "q_stream_upsert_sink",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
    doc="Streaming UPSERT into a serving table (SURVEY §2.8): an "
    "update-mode aggregation emits only the keys each micro-batch "
    "CHANGED, and foreachBatch merges them into a landed parquet "
    "'serving' directory (replace-matched-keys ∪ insert-new, swapped "
    "in atomically via a staging dir + rename) — the most common "
    "production streaming sink after Kafka: a continuously-maintained "
    "aggregate a dashboard reads. Contrast q_stream_foreachbatch "
    "(append raw rows) and q_merge_upsert (batch MERGE): this is the "
    "streaming+merge composition. Full oracle: the final serving "
    "state equals the batch aggregate (any lost/duplicated upsert "
    "moves a count).",
)
def q_stream_upsert_sink(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import uuid

    from gps_stream_processing_spark.streaming.runner import make_latest_upsert

    base = os.path.join(land_dir("upsert", sf), uuid.uuid4().hex)
    serving = os.path.join(base, "serving")
    ckpt = os.path.join(base, "ckpt")
    upsert = make_latest_upsert(spark, serving, "event_type")

    agg = (
        events_stream(spark, sf)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    try:
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        unload_idle_state_stores(spark)
    # snapshot + remove the per-call uuid dir (the q_stream_tws_forecast
    # hygiene — repeated bench/driver calls must not accumulate tables)
    res = spark.read.parquet(serving).localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return res


@register(
    "q_stream_resume",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
    doc="Checkpoint RESUME — incremental processing across restarts "
    "(SURVEY §2.8): the stream runs availableNow over the first half "
    "of the corpus, STOPS, new files arrive, and a second run with the "
    "SAME checkpoint processes ONLY the delta (the file-source offset "
    "log records what batch 1 consumed) — landing both runs through "
    "foreachBatch parquet. This is THE production property of "
    "Structured Streaming at 100 TB/day: a nightly availableNow job is "
    "an incremental batch pipeline with exactly-once bookkeeping and "
    "zero bespoke 'which files did I already load' code. Full oracle: "
    "the two runs' union equals the batch aggregate (any reprocessing "
    "would double n_ids' underlying rows; any skipped file would drop "
    "them). Run-2-only-processes-the-delta is additionally "
    "pytest-pinned per batch.",
)
def q_stream_resume(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import uuid

    base = os.path.join(land_dir("resume", sf), uuid.uuid4().hex)
    inc, ckpt, out = (os.path.join(base, d) for d in ("incoming", "ckpt", "out"))
    ev = table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(inc)
    schema = spark.read.parquet(inc).schema

    def drive() -> None:
        q = (
            spark.readStream.schema(schema)
            .parquet(inc)
            .writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drive()  # run 1: first half
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(inc)
    drive()  # run 2: resumes from the checkpoint, reads only the delta
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("event_id").alias("n_ids"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "q_stream_dedup_watermark",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique
    FROM events GROUP BY event_type
    """,
    doc="Streaming dedup via dropDuplicatesWithinWatermark (SURVEY "
    "§2.8) — the Spark-3.5+ API distinct from q_stream_dedup's "
    "dropDuplicates: state for a key is EVICTED once the watermark "
    "passes its event time + delay, so state is O(keys per watermark "
    "window), not O(all keys ever) — the only dedup that runs forever "
    "on an unbounded 100 TB/day stream where duplicates arrive close "
    "together (at-least-once sources: Kafka producer retries). "
    "availableNow over the finite fixture keeps every event inside "
    "the final watermark, so the deduped per-type counts equal the "
    "batch DISTINCT — full oracle, same as the unbounded-state twin, "
    "making the two APIs' equivalence on bounded input an asserted "
    "fact rather than an assumption.",
)
def q_stream_dedup_watermark(spark: SparkSession, sf: str) -> DataFrame:
    dedup = (
        events_stream(spark, sf)
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    return run_available_now(dedup, output_mode="complete", state_partitions=4)


@register(
    "q_state_reader",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    doc="State-store READER (Spark 4 'statestore' batch data source, "
    "SURVEY §2.8): run a streaming aggregation to a persistent "
    "checkpoint, then read the checkpoint's STATE back as a batch "
    "DataFrame — key struct, value struct (the per-group aggregate "
    "buffer), partition_id. This is the production state-introspection "
    "/ debugging surface: at 100 TB you audit or repair a live "
    "pipeline's state without replaying the stream. The streaming agg "
    "has consumed the whole fixture by availableNow completion, so the "
    "state's per-key counts equal the batch GROUP BY — full oracle; a "
    "re-run over the same checkpoint processes zero new rows and the "
    "read is idempotent.",
)
def q_state_reader(spark: SparkSession, sf: str) -> DataFrame:

    ckpt = land_dir("ssr", sf)
    agg = (
        events_stream(spark, sf)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    try:
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
            q = (
                agg.writeStream.format("noop")
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        unload_idle_state_stores(spark)
    st = spark.read.format("statestore").option("path", ckpt).load()
    return st.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
    )


def _synth_stream_oracle(n_tracks: int = 3, n_seconds: int = 120) -> str:
    """Oracle for the custom STREAMING source: a VALUES literal of the
    per-track reference reduction (row count + line_no checksum),
    computed driver-side from the same deterministic generator the
    executors run (``generate_track_rows`` — the nmea_oracle pattern:
    the committed generator is the source of truth). What the compare
    verifies is the DISTRIBUTED STREAMING DELIVERY: every row of every
    micro-batch arrives exactly once across offset ranges, partitions,
    and the multi-batch processAllAvailable drive — loss, duplication,
    or a mis-sliced offset range all move the count or the checksum."""
    from gps_stream_processing_spark.sources.nmea import generate_track_rows

    vals = []
    for t in range(n_tracks):
        rows = generate_track_rows(t, n_seconds=n_seconds, seed=42)
        vals.append(f"({t}, {len(rows)}, {sum(r[0] for r in rows)})")
    return (
        "SELECT CAST(track_id AS BIGINT) AS track_id, "
        "CAST(n_lines AS BIGINT) AS n_lines, "
        "CAST(sum_line_no AS BIGINT) AS sum_line_no "
        f"FROM (VALUES {', '.join(vals)}) AS t(track_id, n_lines, sum_line_no)"
    )


@register(
    "q_custom_stream_source",
    oracle=_synth_stream_oracle(),
    doc="Custom Python STREAMING data source (Spark 4 "
    "DataSourceStreamReader, SURVEY §2.1/§2.8): the synthetic NMEA "
    "receivers as a LIVE source — offsets are event-time seconds, "
    "latestOffset admits 30 s per poll, so the processAllAvailable "
    "drive executes 4 genuine micro-batches whose [s, e) offset "
    "ranges partition the stream; partitions are per-track with "
    "O(1)-byte descriptors and executor-side generation "
    "(sources/nmea_datasource.py NmeaSynthStreamReader). The oracle "
    "is the generator's own per-track reduction as a VALUES literal — "
    "exactly-once delivery across batches and partitions is what the "
    "hash verifies.",
)
def q_custom_stream_source(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.sources.nmea_datasource import (
        register_nmea_datasource,
    )
    from gps_stream_processing_spark.streaming.runner import run_process_all

    register_nmea_datasource(spark)
    raw = (
        spark.readStream.format("nmea_synth")
        .option("n_tracks", 3)
        .option("n_seconds", 120)
        .option("seconds_per_batch", 30)
        .load()
    )
    agg = raw.groupBy("track_id").agg(
        F.count("*").alias("n_lines"), F.sum("line_no").alias("sum_line_no")
    )
    return run_process_all(agg, output_mode="complete")


@register(
    "q_state_metadata",
    # The stable identity of the checkpoint's stateful operator: id,
    # operator name, store name, partition count. Batch-id columns are
    # deliberately excluded — they advance if a future rerun ever
    # commits another batch, while these four are pinned at the
    # checkpoint's first start (numPartitions = the state_partitions
    # sizing decision, locked per checkpoint).
    oracle="""
    SELECT CAST(0 AS BIGINT) AS operator_id,
           'stateStoreSave' AS operator_name,
           'default' AS state_store_name,
           CAST(4 AS INT) AS num_partitions
    """,
    doc="State-metadata source (Spark 4 'state-metadata' batch format, "
    "q_state_reader's companion): enumerate a checkpoint's stateful "
    "operators and their store layout — operator id/name, store name, "
    "and the partition count Spark LOCKED at first start. This is the "
    "discovery step of state introspection at scale: you read the "
    "metadata to learn which stores exist (and with how many shards) "
    "before pointing the statestore reader or a repair job at them. "
    "Full oracle: the values are the checkpoint's pinned identity — "
    "the streaming agg writes through one stateStoreSave operator "
    "sharded 4 ways (the state_partitions decision).",
)
def q_state_metadata(spark: SparkSession, sf: str) -> DataFrame:

    # ensure the shared q_state_reader checkpoint exists (idempotent)
    from gps_stream_processing_spark.plans import streaming_queries as _self

    _self.q_state_reader(spark, sf).limit(0).collect()
    ckpt = land_dir("ssr", sf)
    m = spark.read.format("state-metadata").load(ckpt)
    return m.select(
        F.col("operatorId").cast("long").alias("operator_id"),
        F.col("operatorName").alias("operator_name"),
        F.col("stateStoreName").alias("state_store_name"),
        F.col("numPartitions").cast("int").alias("num_partitions"),
    )


@register(
    "q_stream_progress",
    # The listener-reported metrics must reconcile to batch ground
    # truth: total numInputRows across batches == the table's row
    # count; the agg state's numRowsTotal == the sink row count ==
    # the distinct (day, event_type) group count. All exact integers.
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_input_rows,
           CAST(COUNT(DISTINCT (date_trunc('day', ts), event_type))
                AS BIGINT) AS state_rows_total,
           CAST(COUNT(DISTINCT (date_trunc('day', ts), event_type))
                AS BIGINT) AS sink_rows
    FROM events
    """,
    doc="STREAMING OBSERVABILITY via StreamingQueryListener (SURVEY "
    "§2.8 ext — the streaming twin of q_observe_metrics): a listener "
    "registered before start() collects every QueryProgressEvent of "
    "an availableNow windowed aggregation (filtered by query name — "
    "a shared session may run sibling streams), and the key emits "
    "the reconciliation the progress stream must satisfy: summed "
    "numInputRows == source row count, the stateStoreSave operator's "
    "numRowsTotal == the group count == the sink row count. This is "
    "the production monitoring surface — lag/throughput/state-size "
    "dashboards consume exactly these per-batch events; at 100 TB "
    "the listener payload stays O(batches), never data. Progress "
    "delivery is asynchronous: the key polls (bounded) until the "
    "terminated event lands before reading the collected metrics.",
)
def q_stream_progress(spark: SparkSession, sf: str) -> DataFrame:
    import time
    import uuid as _uuid

    from pyspark.sql.streaming import StreamingQueryListener

    class _Collector(StreamingQueryListener):
        def __init__(self, name: str) -> None:
            self._name = name
            self.progresses: list = []
            self.terminated = False

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            if event.progress.name == self._name:
                self.progresses.append(event.progress)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated = True

    agg = (
        events_stream(spark, sf)
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    name = f"mem_prog_{_uuid.uuid4().hex[:10]}"
    collector = _Collector(name)
    spark.streams.addListener(collector)
    try:
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # listener events are delivered on a separate dispatcher
        # thread — poll (bounded) for the terminated event, which is
        # ordered AFTER every progress event of this query
        deadline = time.monotonic() + 30
        while not collector.terminated and time.monotonic() < deadline:
            time.sleep(0.05)
        sink_rows = spark.table(name).count()
    finally:
        spark.streams.removeListener(collector)
        try:
            spark.catalog.dropTempView(name)
        except Exception:  # noqa: BLE001 — view absent if start() failed
            pass
        unload_idle_state_stores(spark)
    total_in = sum(p.numInputRows for p in collector.progresses)
    state_total = 0
    for p in collector.progresses:  # last non-empty stateOperators wins
        if p.stateOperators:
            state_total = p.stateOperators[0].numRowsTotal
    return spark.createDataFrame(
        [(int(total_in), int(state_total), int(sink_rows))],
        "total_input_rows bigint, state_rows_total bigint,"
        " sink_rows bigint",
    )


def q_stream_tws_init_state(spark: SparkSession, sf: str) -> DataFrame:
    from gps_stream_processing_spark.streaming.runner import events_stream
    from gps_stream_processing_spark.streaming.stateful import (
        streaming_seeded_totals_tws,
    )

    with rocksdb_state_store(spark):
        cutoff = "2024-01-15 00:00:00"
        # Batch backfill aggregate = the initial state; the live stream
        # carries only post-cutoff events.
        seed = (
            table(spark, sf, "events")
            .filter(F.col("ts") < cutoff)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        )
        live = events_stream(spark, sf).filter(F.col("ts") >= cutoff)
        snap = run_available_now(
            streaming_seeded_totals_tws(live, seed),
            output_mode="update",
            state_partitions=tws_state_partitions(),
        )
        return snap.select(
            "user_id", "n_events", F.round("sum_value", 6).alias("sum_value")
        )


if _tws_available():
    # Gated like the other five TWS keys (the registration was
    # unconditional before r14 — the key would have entered the
    # registry in a protobuf-less environment and crashed at run
    # time instead of being announced-absent).
    q_stream_tws_init_state = register(
        "q_stream_tws_init_state",
        oracle="""
        WITH agg AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                 SUM(value) AS sv
          FROM events GROUP BY 1
        ), live AS (
          SELECT DISTINCT user_id FROM events
          WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        )
        SELECT a.user_id, a.n_events, ROUND(a.sv, 6) AS sum_value
        FROM agg a JOIN live USING (user_id)
        """,
        doc="TWS INITIAL STATE (SURVEY §2.8): the batch→stream handoff — a "
        "historical backfill aggregate (events before Jan 15) is handed to "
        "transformWithStateInPandas as initialState (routed per-key to "
        "handleInitialState before the first batch), and the live stream "
        "(events from Jan 15 on) increments the seeded per-user totals. "
        "The emitted totals therefore cover the FULL history without the "
        "stream ever re-reading it — at 100 TB the seed is one batch "
        "aggregation job, and the streaming job's state starts warm. "
        "Oracle: full-table per-user totals restricted to users with at "
        "least one live event (seed-only users never emit in update "
        "mode). Completes the TWS surface: ValueState / ListState+TTL / "
        "MapState / event-time timers / initial state "
        "(streaming/stateful.py).",
    )(q_stream_tws_init_state)


@register(
    "q_stream_ohlc",
    # The q_ohlc_bars semantics executed as a real stream: min_by/
    # max_by are declarative aggregates, so the streaming engine
    # maintains open/close incrementally per (window, type) group —
    # the same collision-free within-day integer order key keeps
    # same-microsecond ties deterministic across any micro-batching.
    oracle="""
    WITH e AS (
      SELECT event_type, date_trunc('day', ts) AS window_start,
             (epoch_us(ts) - epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP)))
               * CAST('100000000000000000000' AS HUGEINT) + event_id AS k,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    )
    SELECT event_type, window_start,
           ROUND(arg_min(c, k) / 100.0, 2) AS open,
           ROUND(MAX(c) / 100.0, 2) AS high,
           ROUND(MIN(c) / 100.0, 2) AS low,
           ROUND(arg_max(c, k) / 100.0, 2) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM e GROUP BY event_type, window_start
    """,
    doc="STREAMING daily OHLC bars (SURVEY §2.8 ext — the live twin "
    "of q_ohlc_bars, the shape every metrics/ticker pipeline runs: "
    "candlesticks maintained incrementally as events arrive instead "
    "of recomputed per batch). min_by/max_by are declarative Spark "
    "aggregates, so Structured Streaming holds one (open-key, open, "
    "high, low, close-key, close, n) state row per (window, series) "
    "— O(bars) state, no raw-event buffering — and the availableNow "
    "replay is batch-equivalent by construction. Same collision-"
    "free within-day integer order key as the batch twin, so "
    "micro-batch boundaries cannot flip a same-µs tie; full oracle "
    "via the batch arg_min/arg_max equivalent.",
)
def q_stream_ohlc(spark: SparkSession, sf: str) -> DataFrame:
    ev = events_stream(spark, sf)
    e = ev.select(
        "event_type",
        "ts",
        (
            (
                F.unix_micros("ts")
                - F.unix_micros(F.col("ts").cast("date").cast("timestamp"))
            ).cast("decimal(17,0)")
            * F.lit("100000000000000000000").cast("decimal(21,0)")
            + F.col("event_id").cast("decimal(20,0)")
        ).alias("k"),
        F.expr("cast(round(value * 100) as bigint)").alias("c"),
    )
    agg = e.groupBy(
        F.window("ts", "1 day").alias("win"), "event_type"
    ).agg(
        F.round(F.min_by("c", "k") / F.lit(100.0), 2).alias("open"),
        F.round(F.max("c") / F.lit(100.0), 2).alias("high"),
        F.round(F.min("c") / F.lit(100.0), 2).alias("low"),
        F.round(F.max_by("c", "k") / F.lit(100.0), 2).alias("close"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    out = run_available_now(agg, output_mode="complete")
    return out.select(
        "event_type",
        F.col("win.start").alias("window_start"),
        "open",
        "high",
        "low",
        "close",
        "n_events",
    )


@register(
    "q_stream_late_drop",
    # Watermark late-data DROP, oracle-gated (VERDICT r12 item 3): a
    # three-file availableNow replay where the globally EARLIEST event
    # (min (ts, event_id) — unique, deterministic) arrives in batch 3,
    # after batch 1 advanced the watermark days past its window. Three
    # files, not two, because Spark's late-DATA filter applies the
    # watermark one commit later than state eviction does (measured on
    # 4.1: a late row in batch N+1 right after the advancing batch N is
    # admitted and immediately evicted-with-emission; in batch N+2 it
    # is dropped with numRowsDroppedByWatermark=1) — batch 2 carries
    # the globally LATEST event, which can never be late. The late
    # row's window end <= the final watermark, so if the row were NOT
    # dropped it WOULD appear in the emitted aggregate — the oracle
    # (batch aggregate minus exactly that row, filtered to
    # watermark-closed windows) distinguishes drop from hold. Final
    # watermark is deterministic: floor_ms(max event time) - delay
    # (the q_stream_session_true discipline).
    oracle="""
    WITH e AS (
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
      FROM events
    ), late AS (
      SELECT event_id FROM e ORDER BY ts, event_id LIMIT 1
    ), wm AS (
      SELECT to_timestamp(floor(epoch_ms(max(ts)) / 1000.0 * 1000) / 1000.0)
             - INTERVAL 10 MINUTE AS w
      FROM e
    ), b AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
      FROM e WHERE event_id NOT IN (SELECT event_id FROM late)
      GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events,
           ROUND(c / 100.0, 2) AS sum_value
    FROM b, wm WHERE window_start + INTERVAL 1 HOUR <= w
    """,
    doc="Watermark LATE-DATA DROP as a verified fact, not a claim "
    "(SURVEY §2.8): the event stream replays as three ordered files "
    "(mtime-ordered, maxFilesPerTrigger=1 — Spark's file source "
    "admits oldest-first), with the corpus's earliest event held "
    "back to batch 3. Batch 1 advances the watermark ~30 days past "
    "that event's tumbling window (batch 2 is the corpus's latest "
    "event — never late — because the late-data filter trails state "
    "eviction by one commit), so batch 3 drops it at the "
    "watermark filter before it reaches state. The oracle "
    "is the batch hourly aggregate MINUS exactly that row, filtered "
    "to windows closed by the deterministic final watermark — a "
    "hash mismatch would catch both a phantom drop (different row "
    "missing) and a failure to drop (late row counted). At 100 TB "
    "this is the semantics that bounds state: without the drop, "
    "stragglers re-open arbitrarily old windows forever.",
)
def q_stream_late_drop(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import time
    import uuid

    ev = table(spark, sf, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    late_id, last_id = ev.agg(
        F.min_by("event_id", F.struct("ts", "event_id")),
        F.max_by("event_id", F.struct("ts", "event_id")),
    ).first()  # 1-row aggregate collect
    base = os.path.join(land_dir("latedrop", sf), uuid.uuid4().hex)
    inc = os.path.join(base, "incoming")
    os.makedirs(inc, exist_ok=True)

    def _land(df: DataFrame, name: str, mtime: float) -> None:
        stage = os.path.join(base, f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        dst = os.path.join(inc, f"{name}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        shutil.rmtree(stage)
        os.utime(dst, (mtime, mtime))

    now = time.time()
    _land(
        ev.filter(~F.col("event_id").isin(late_id, last_id)),
        "1_bulk",
        now - 240,
    )
    _land(ev.filter(F.col("event_id") == last_id), "2_latest", now - 120)
    _land(ev.filter(F.col("event_id") == late_id), "3_late", now)
    schema = spark.read.parquet(os.path.join(inc, "1_bulk.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inc)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.expr("cast(round(value * 100) as bigint)")).alias("c"),
        )
    )
    out = run_available_now(agg, output_mode="append", state_partitions=4)
    return out.select(
        F.col("win.start").alias("window_start"),
        "event_type",
        "n_events",
        F.round(F.col("c") / F.lit(100.0), 2).alias("sum_value"),
    )


@register(
    "q_stream_join_then_window",
    # CHAINED stateful streaming (VERDICT r12 item 4, Spark 4
    # multi-stateful): stream-stream interval join -> downstream
    # tumbling-window aggregate in ONE query. Windowing on CLICK_TS
    # keeps the chain watermark-clean: the join condition bounds
    # click_ts >= view_ts >= view-watermark, so the join's output
    # watermark for click_ts needs no range subtraction and the
    # downstream agg emits exactly the windows closed by the global
    # watermark min(side watermarks) — deterministic under
    # availableNow (verified: 21/21 window rows hash-equal the batch
    # twin at sf0.001). Exact integer lag sums; the mean is the only
    # double, rounded 6 dp.
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type,
                      CAST(ts AS TIMESTAMP) AS ts FROM events),
    v AS (SELECT user_id, ts FROM e WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM e WHERE event_type = 'click'),
    mx AS (SELECT least(
             (SELECT to_timestamp(floor(epoch_ms(max(ts)) / 1000.0 * 1000) / 1000.0) FROM v),
             (SELECT to_timestamp(floor(epoch_ms(max(ts)) / 1000.0 * 1000) / 1000.0) FROM c)
           ) - INTERVAL 1 HOUR AS wm),
    m AS (
      SELECT v.ts AS view_ts, c.ts AS click_ts
      FROM v JOIN c ON v.user_id = c.user_id
       AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 12 HOUR
    )
    SELECT date_trunc('day', click_ts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM((epoch_us(click_ts) - epoch_us(view_ts)) // 1000000)
                AS BIGINT) AS sum_lag_sec,
           ROUND(CAST(SUM((epoch_us(click_ts) - epoch_us(view_ts))
                          // 1000000) AS DOUBLE) / COUNT(*), 6)
             AS avg_lag_sec
    FROM m, mx
    WHERE date_trunc('day', click_ts) + INTERVAL 1 DAY <= wm
    GROUP BY 1
    """,
    doc="CHAINED stateful streaming — stream-stream interval join "
    "feeding a downstream tumbling-window aggregate in one query "
    "(SURVEY §2.8, Spark 4 multiple-stateful-operators support): "
    "view→click attribution pairs (12 h bound, both sides "
    "watermarked 1 h) roll up to daily (pair count, lag sum/mean) "
    "candlesticks WITHOUT landing the join — the two state stores "
    "(symmetric hash join + stateStoreSave) run back-to-back in the "
    "same micro-batch pipeline. Windowing on click_ts makes the "
    "chain watermark-clean (join output can never produce a "
    "click_ts older than the view watermark), so append mode emits "
    "exactly the windows closed by the deterministic final global "
    "watermark — full oracle via the batch join + window filter. "
    "At 100 TB this is the shape that replaces a join-land-reaggregate "
    "pipeline with one incremental query, state bounded by "
    "watermark + range bound on the join and O(open windows) on the "
    "agg.",
)
def q_stream_join_then_window(spark: SparkSession, sf: str) -> DataFrame:
    views = (
        events_stream(spark, sf)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        events_stream(spark, sf)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        F.expr(
            "user_id = click_user_id AND click_ts >= view_ts "
            "AND click_ts <= view_ts + INTERVAL 12 HOURS"
        ),
    )
    agg = joined.groupBy(F.window("click_ts", "1 day").alias("win")).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(
            F.expr("(unix_micros(click_ts) - unix_micros(view_ts)) div 1000000")
        )
        .cast("bigint")
        .alias("sum_lag_sec"),
    )
    out = run_available_now(agg, output_mode="append", state_partitions=4)
    return out.select(
        F.col("win.start").alias("window_start"),
        "n_pairs",
        "sum_lag_sec",
        F.round(
            F.col("sum_lag_sec").cast("double") / F.col("n_pairs"), 6
        ).alias("avg_lag_sec"),
    )


@register(
    "q_state_time_travel",
    # State TIME TRAVEL: the statestore batch source's batchId option
    # reads the aggregation state AS OF a historical commit. The
    # two-batch replay is deterministic (even event_ids in the
    # mtime-older file, odd in the newer; maxFilesPerTrigger=1), so
    # state@batch0 is exactly the even-id counts and the latest state
    # the full counts — both exact integers.
    oracle="""
    SELECT event_type,
           CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_at_batch0,
           CAST(COUNT(*) AS BIGINT) AS n_final
    FROM events GROUP BY event_type
    """,
    doc="STATE TIME TRAVEL (Spark 4 statestore source, batchId "
    "option — the third leg of the state-introspection surface "
    "after q_state_reader/q_state_metadata): run a two-batch "
    "availableNow aggregation to a checkpoint, then read the state "
    "store AS OF batch 0 and at the latest commit, joining the two "
    "snapshots per group. This is the production debugging shape — "
    "'what did the operator state hold N commits ago' — answered "
    "from checkpoint files alone, no replay. The replay is "
    "deterministic (even ids land in batch 0 via mtime-ordered "
    "maxFilesPerTrigger=1 admission), so both snapshots carry a "
    "full exact oracle.",
)
def q_state_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    import os
    import shutil
    import time
    import uuid

    ev = table(spark, sf, "events").select("event_id", "event_type")
    base = os.path.join(land_dir("stt", sf), uuid.uuid4().hex)
    inc, ckpt = os.path.join(base, "incoming"), os.path.join(base, "ckpt")
    os.makedirs(inc, exist_ok=True)

    def _land(df: DataFrame, name: str, mtime: float) -> None:
        stage = os.path.join(base, f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(inc, f"{name}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        shutil.rmtree(stage)
        os.utime(dst, (mtime, mtime))

    now = time.time()
    _land(ev.filter(F.col("event_id") % 2 == 0), "1_even", now - 120)
    _land(ev.filter(F.col("event_id") % 2 == 1), "2_odd", now)
    schema = spark.read.parquet(os.path.join(inc, "1_even.parquet")).schema
    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inc)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    try:
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
            q = (
                agg.writeStream.format("noop")
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        unload_idle_state_stores(spark)
    at0 = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .option("batchId", 0)
        .load()
        .select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("bigint").alias("n_at_batch0"),
        )
    )
    latest = (
        spark.read.format("statestore")
        .option("path", ckpt)
        .load()
        .select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").cast("bigint").alias("n_final"),
        )
    )
    # LEFT join from the latest snapshot: an event_type whose ids are
    # all odd has NO state row at batch 0 but must still appear with
    # n_at_batch0 = 0, matching the oracle (ADVICE r13). Inner would
    # silently drop the group on such a corpus.
    return latest.join(at0, "event_type", "left").select(
        "event_type",
        F.coalesce(F.col("n_at_batch0"), F.lit(0)).alias("n_at_batch0"),
        "n_final",
    )
