"""Structured Streaming helpers (SURVEY §2.8).

``run_available_now`` drives a streaming DataFrame to completion with
the availableNow trigger and a memory sink, returning the final result
as a batch DataFrame — the synchronous smoke-mode the driver contract
needs. In production the same plans run unchanged with a real trigger
and a parquet/kafka sink; availableNow is Spark's sanctioned
batch-replay of a stream (respecting watermarks & state), so the plans
verified here are the plans that would run live.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from gps_stream_processing_spark.session import default_parallelism, scoped_conf
from gps_stream_processing_spark.workdir import land_dir

# State-partition width for the transformWithStateInPandas keys. The
# JVM-only stateful streams (windowed aggs, dedup, session windows,
# stream-stream joins) keep the measured-best 4 (see run_available_now
# docstring); the TWS keys carry PER-KEY PYTHON work (the processor's
# handleInputRows/handleExpiredTimer plus one state round-trip set per
# key), which parallelizes across state partitions — at 4 partitions a
# 32-core host runs the whole Python phase on 4 cores. Measured on
# q_stream_tws_timer_list at sf0.1/local[32], warm 5-pass medians:
# 4 parts 10.6s / 8 parts 6.8s / 16 parts 3.6-6.8s (diminishing, more
# store instances); q_stream_tws_ewma 4.4s -> 3.4s. Default: 8 capped
# at the host's core budget (below 8 cores the extra store instances
# buy no parallelism, so the width follows the cores down to the
# JVM-stateful floor of 4); production sizes this to keyspace x
# throughput via the env knob (the count is pinned per checkpoint at
# first start, so it is a deliberate per-stream decision either way).
def tws_state_partitions() -> int:
    """Resolved LAZILY at each use site (ADVICE r16): a module-level
    constant would crash every import of this package on a malformed
    env value and freeze the knob at first-import time."""
    explicit = os.environ.get("SPARK_GRAFT_TWS_STATE_PARTITIONS")
    if explicit:
        try:
            return int(explicit)
        except ValueError:
            import warnings

            warnings.warn(
                f"SPARK_GRAFT_TWS_STATE_PARTITIONS={explicit!r} is not an "
                "int; falling back to the computed default",
                stacklevel=2,
            )
    return min(8, max(4, default_parallelism()))


# Arrow batch width for the streaming Python boundary (guide §4.2
# posture: keep batches large enough for vectorization to pay off).
# The default 10k rows chunks a 100k-row micro-batch into 10 Arrow
# batches per partition; the TWS input iterator re-chunks per KEY
# anyway, so larger transfer batches are pure overhead reduction
# (measured -9..-13% on the ewma/timer_list keys). Per-key results
# cannot depend on chunking — every processor sees all of a key's rows
# through its own iterator regardless of Arrow framing.
_STREAM_ARROW_BATCH = "131072"


def _stream_confs(state_partitions: int) -> dict[str, str]:
    """The confs a stream runs under, for its whole lifetime: every
    micro-batch plans with them, so they stay set until it stops."""
    return {
        "spark.sql.shuffle.partitions": str(state_partitions),
        "spark.sql.execution.arrow.maxRecordsPerBatch": _STREAM_ARROW_BATCH,
    }


# Scoped state-store config for the TWS keys: the RocksDB provider
# (required by transformWithStateInPandas) plus CHANGELOG
# CHECKPOINTING — each commit uploads the batch's delta instead of a
# full .zip snapshot of every store instance (snapshots still happen,
# in background maintenance). Measured ~-14% on the timer_list key at
# sf0.1; at production state volumes changelog commits are the
# documented posture for latency-sensitive RocksDB streams.
_ROCKSDB_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb."
    "changelogCheckpointing.enabled": "true",
}


def rocksdb_state_store(spark: SparkSession):
    """:data:`_ROCKSDB_CONF` for the body of a ``with``; both confs are
    restored on exit (:func:`session.scoped_conf`)."""
    return scoped_conf(spark, _ROCKSDB_CONF)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file stream (FIXTURES.md: events doubles as
    the streaming fixture). Schema passed explicitly — a streaming
    source must never infer."""
    from pyspark.sql import functions as F

    # ts has shipped as TIMESTAMP(NANOS) or TIMESTAMP(MICROS, NTZ)
    # depending on the testdata generation (see sources/tables.load_table).
    # A streaming source needs the schema up front, so probe the parquet
    # footer once (cheap, driver-side) to pick the right read type.
    import pyarrow as pa
    import pyarrow.parquet as pq

    parquet_file = os.path.join(sf_dir, "events.parquet")
    # Structural probe (not string-match): a tz-adjusted nanos column
    # ("timestamp[ns, tz=UTC]") is still the nanos path — Spark's parquet
    # reader rejects NANOS either way and needs the long read.
    ts_type = pq.read_schema(parquet_file).field("ts").type
    nanos = pa.types.is_timestamp(ts_type) and ts_type.unit == "ns"
    ts_read_type = T.LongType() if nanos else T.TimestampNTZType()
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_read_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The streaming file source requires a *directory*; the testdata is a
    # single file (read-only) → expose it through a symlink dir.
    stream_dir = _stream_dir(parquet_file)
    raw = spark.readStream.schema(schema).parquet(stream_dir)
    if nanos:
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # NTZ→TimestampType reinterprets the wall-clock in the session TZ;
    # epoch equality with the nanos path holds only under UTC sessions
    # (get_spark pins it — RuntimeError, not assert, so a foreign session
    # fails loudly even under `python -O` instead of shifting watermarks).
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        raise RuntimeError(
            "events_stream NTZ->timestamp cast requires "
            "spark.sql.session.timeZone=UTC"
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _stream_dir(parquet_file: str) -> str:

    d = land_dir("stream", parquet_file)
    link = os.path.join(d, "events.parquet")
    os.makedirs(d, exist_ok=True)
    if not os.path.exists(link):
        try:
            os.symlink(parquet_file, link)
        except FileExistsError:  # concurrent caller won the race — fine
            pass
    return d


def unload_idle_state_stores(spark: SparkSession) -> None:
    """Release state-store resources a finished availableNow run leaves
    behind in a long-lived local session: the executor-side StateStore
    coordinator keeps every loaded provider (RocksDB native handles,
    HDFS-backed map versions) plus a background maintenance thread pool
    alive after the query terminates. Harmless on a real cluster
    (executors are per-app and state reloads from the checkpoint
    anyway) but in one long bench/driver session tens of streaming
    queries accumulate providers + maintenance wake-ups that drag
    unrelated queries (VERDICT r6: LPA 5.2s loaded vs 2.96s isolated).
    ``StateStore.stop()`` unloads all providers and stops the
    maintenance pool; the next streaming query lazily restarts it
    (``StateStore.get`` → ``startMaintenanceIfNeeded``), so calling it
    between queries is safe by construction. The call is JVM-GLOBAL —
    it would also unload a concurrently RUNNING stream's providers and
    force a per-batch state reload — so the idle gate must be
    JVM-global too: ``spark.streams.active`` alone is per-SESSION, and
    this codebase does create sibling sessions (ADVICE r7), so after
    the session check we also scan live JVM threads for any
    StreamExecution worker ("stream execution thread for …" — the name
    every micro-batch/continuous execution thread carries for its
    query's lifetime, from any session sharing the JVM). Best-effort:
    internal JVM API, guarded for Spark Connect / future renames; an
    unrecognized state errs on NOT unloading (perf-only cost)."""
    try:
        if spark.streams.active:
            return  # this session has a live stream
        jvm = spark._jvm  # noqa: SLF001 — no public API unloads providers
        for t in jvm.java.lang.Thread.getAllStackTraces().keySet().toArray():
            if t.getName().startswith("stream execution thread"):
                return  # a sibling session's stream is live — don't thrash it
        jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:  # noqa: BLE001
        pass


def _run_to_memory(
    sdf: DataFrame,
    output_mode: str,
    state_partitions: int,
    trigger: dict,
    drive: Callable[[StreamingQuery], None],
) -> DataFrame:
    """The one memory-sink run behind the public runners: start ``sdf``
    with ``trigger`` into a uuid-named memory sink under the stream
    confs, wait with ``drive``, stop, and snapshot the sink with an
    eager ``localCheckpoint``. Hygiene runs on FAILURE too: a stream
    that dies after start() has already registered the sink view and
    loaded state-store providers — exactly the leak this cleanup exists
    to prevent (and a bench adjudication re-run would leak again on
    retry)."""
    spark = sdf.sparkSession
    name = f"mem_{uuid.uuid4().hex[:10]}"
    q = None
    with scoped_conf(spark, _stream_confs(state_partitions)):
        try:
            q = (
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(**trigger)
                .start()
            )
            drive(q)
            q.stop()
            q.awaitTermination()
            return spark.table(name).localCheckpoint(eager=True)
        finally:
            if q is not None and q.isActive:
                try:
                    q.stop()
                except Exception:  # noqa: BLE001
                    pass
            try:
                spark.catalog.dropTempView(name)
            except Exception:  # noqa: BLE001 — view may not exist if start() failed
                pass
            unload_idle_state_stores(spark)


def run_available_now(
    sdf: DataFrame, output_mode: str = "complete", state_partitions: int = 4
) -> DataFrame:
    """Run a streaming plan to exhaustion (availableNow) into a memory
    sink; return the materialized result. Memory sink is driver-resident
    — smoke scale only; production sinks are parquet/kafka via the same
    plan.

    The uuid-named sink table is TRANSIENT: the result is snapshotted
    with an eager ``localCheckpoint`` and the temp view dropped before
    returning, so repeated runs in one long-lived session (bench loop,
    driver correctness sweep) don't accumulate driver-resident memory
    sinks in the catalog (VERDICT r6 hygiene item). The checkpoint
    blocks are freed by the ContextCleaner once the returned frame is
    garbage-collected, unlike a leaked sink table which pins its rows
    for the session's lifetime.

    ``state_partitions`` bounds the stateful-operator partition count
    for this query (Spark pins it per checkpoint at first start, so it
    is a deliberate per-stream sizing decision, not a global default):
    each stateful operator initializes one state store per partition,
    and at smoke scale 32 stores per operator cost more than the data
    (measured 4x on the dedup stream; 4 beats 8 by another ~33% across
    the windowed/dedup/session streams at sf0.01). At production state volumes the
    same knob scales UP with keyspace size."""
    return _run_to_memory(
        sdf,
        output_mode,
        state_partitions,
        {"availableNow": True},
        lambda q: q.awaitTermination(),
    )


def run_foreach_batch_parquet(
    sdf: DataFrame, out_dir: str, state_partitions: int = 4
) -> DataFrame:
    """Production-shaped sink: drive the stream with availableNow through
    ``foreachBatch``, each micro-batch appended to a parquet directory
    (partitionable, atomic per batch); return the re-read result. This is
    the emission path SCALE.md prescribes over the driver-resident memory
    sink — the same code runs unchanged under a real trigger."""
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    spark = sdf.sparkSession
    with scoped_conf(spark, _stream_confs(state_partitions)):
        q = (
            sdf.writeStream.foreachBatch(
                lambda batch_df, batch_id: batch_df.write.mode("append").parquet(
                    out_dir
                )
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


def run_data_drained(
    sdf: DataFrame,
    output_mode: str = "update",
    state_partitions: int = 4,
    timeout_sec: float = 120.0,
) -> DataFrame:
    """Drive for ``timeMode=ProcessingTime`` stateful plans (state TTL):
    in that mode an availableNow query NEVER terminates — after the
    data batch the engine schedules "no new data but cleaning up state"
    maintenance batches forever (observed batchId 46+ on a 1k-row
    fixture), and ``processAllAvailable`` never reaches its quiescent
    condition for the same reason. So: run on a 0-second
    processing-time trigger, poll progress until a batch that actually
    consumed rows has COMMITTED (a later batchId exists in progress —
    commit-before-read, so the sink rows are durable), then stop.
    Sound for replay sources that expose everything at the first poll
    (file source: all files in batch 0); a multi-poll source needs
    :func:`run_process_all` instead. Same transient-sink + state-store
    hygiene as the other runners."""
    import time

    def wait_drained(q: StreamingQuery) -> None:
        deadline = time.time() + timeout_sec
        data_batch = None
        while True:
            if q.exception() is not None:
                raise q.exception()
            for p in q.recentProgress:
                if p["numInputRows"] > 0:
                    data_batch = max(data_batch or 0, p["batchId"])
            last = q.lastProgress
            if data_batch is not None and last and last["batchId"] > data_batch:
                return
            if time.time() > deadline:
                raise TimeoutError(
                    f"streaming query {q.name} did not drain its data batch "
                    f"within {timeout_sec}s (last progress: {last})"
                )
            time.sleep(0.2)

    return _run_to_memory(
        sdf,
        output_mode,
        state_partitions,
        {"processingTime": "0 seconds"},
        wait_drained,
    )


def run_process_all(
    sdf: DataFrame, output_mode: str = "complete", state_partitions: int = 4
) -> DataFrame:
    """:func:`run_available_now`'s twin for sources whose offsets ADVANCE
    per poll (e.g. the custom Python stream reader, whose admission
    happens in ``latestOffset``): trigger availableNow would cap at the
    first poll, so drive with ``processAllAvailable`` — it blocks until
    the sink has caught up with a no-longer-advancing latest offset,
    executing every intermediate micro-batch — then stop. Same
    transient-sink + state-store hygiene as the availableNow runner."""
    return _run_to_memory(
        sdf,
        output_mode,
        state_partitions,
        {"processingTime": "0 seconds"},
        lambda q: q.processAllAvailable(),
    )


def make_latest_upsert(spark: SparkSession, serving: str, key_col: str):
    """foreachBatch body for the LATEST-EMISSION-WINS serving pattern
    (q_stream_upsert_sink's atomic parquet swap, factored so the
    composed serving keys and their tests share one implementation):
    each batch's rows replace the serving rows with matching
    ``key_col``; everything else is kept; the swap is rename-atomic so
    a concurrent reader sees the old or the new table, never a
    partial write. In production this body is a MERGE INTO against a
    lakehouse table — identical plan shape (anti-join + union)."""
    import shutil

    def upsert(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df = batch_df.localCheckpoint(eager=True)
        if os.path.exists(serving):
            existing = spark.read.parquet(serving).localCheckpoint(
                eager=True
            )
            keep = existing.join(
                batch_df.select(key_col), key_col, "left_anti"
            )
            merged = keep.unionByName(batch_df)
        else:
            merged = batch_df
        staging = serving + ".staging"
        merged.coalesce(1).write.mode("overwrite").parquet(staging)
        old = serving + ".old"
        if os.path.exists(serving):
            os.rename(serving, old)
        os.rename(staging, serving)
        shutil.rmtree(old, ignore_errors=True)

    return upsert
