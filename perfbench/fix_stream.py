"""fix_stream_live: open loop over the stateful streaming fix merge.

The query is ``nmea_json_stream`` → ``parse_sentences`` →
``streaming_fix_merge`` (applyInPandasWithState) → a ``foreachBatch``
parquet append, triggered back to back (``processingTime="0 seconds"``).

Catch-up: a pre-written backlog (every receiver's first fix-seconds,
enough to fill the per-receiver open-record cap) is in the watched
directory when the query starts; its first micro-batch drains it and
doubles as warm-up. Live: a generator thread then drops one JSONL file
every ``1 / FILES_PER_S`` seconds on a fixed schedule, whatever the
query's progress. A file's latency is the commit time of the
micro-batch that consumed it minus the time the file was due; the
checkpoint's file-source log maps files to batches.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import threading
import time

import gen
from common import median, tail_percentile
from oracle import check_stream

RECEIVERS = 200
# the state store and Arrow buffers of the stateful merge need the room:
# at 1g its micro-batches ran slower and far less steadily
DRIVER_MEM = "2g"
BACKLOG_SECONDS = 70  # > the merge's 64 open fix-seconds per receiver
BACKLOG_FILES = 7
GROUPS = 10  # a live file holds one fix-second of every GROUPS-th receiver
FILES_PER_S = 20
DRAIN_TIMEOUT_S = 40.0


def prepare(cache: str, seed: int, seconds: int) -> dict:
    return gen.stream_feed(
        cache, seed, RECEIVERS, BACKLOG_SECONDS, BACKLOG_FILES, GROUPS, seconds * FILES_PER_S
    )


def tune_dir(inputs: dict) -> str:
    return inputs["backlog_dir"]


def describe(inputs: dict) -> dict:
    return {
        "backlog_lines": inputs["backlog_lines"],
        "live_files": len(inputs["live_lines"]),
        "live_lines": sum(inputs["live_lines"]),
        "files_per_s": FILES_PER_S,
        "sha256_16": inputs["sha256_16"],
    }


def _source_log(ckpt: str) -> dict[str, int]:
    """file name -> batch id, from the checkpoint's file-source log."""
    out: dict[str, int] = {}
    d = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(d, name)) as f:
                lines = f.read().splitlines()[1:]
        except OSError:
            continue
        for ln in lines:
            if ln.strip():
                e = json.loads(ln)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def _commit_time(ckpt: str, batch: int) -> float | None:
    try:
        return os.stat(os.path.join(ckpt, "commits", str(batch))).st_mtime
    except OSError:
        return None


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from gps_stream_processing_spark.operators.gps_fix import parse_sentences
    from gps_stream_processing_spark.streaming.stateful import (
        MERGE_FIELDS,
        nmea_json_stream,
        streaming_fix_merge,
    )

    spark, tr, inp = ctx.spark, ctx.tracer, ctx.inputs
    watch = os.path.join(ctx.tmp_root, "stream-in")
    ckpt = os.path.join(ctx.tmp_root, "stream-ckpt")
    sink = os.path.join(ctx.tmp_root, "stream-sink")
    os.makedirs(watch)
    for name in sorted(os.listdir(inp["backlog_dir"])):
        shutil.copy(os.path.join(inp["backlog_dir"], name), os.path.join(watch, name))
    live_names = sorted(os.listdir(inp["live_dir"]))
    payloads = []
    for name in live_names:
        with open(os.path.join(inp["live_dir"], name), "rb") as f:
            payloads.append(f.read())

    sink_ms: list[float] = []

    def write_batch(df, batch_id: int) -> None:
        t = time.perf_counter()
        with tr.span("stream.sink_write", batch=batch_id):
            df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)
        sink_ms.append((time.perf_counter() - t) * 1000.0)

    merged = streaming_fix_merge(parse_sentences(nmea_json_stream(spark, watch)))
    t_start = time.time()
    with tr.span("stream.catchup"):
        q = (
            merged.writeStream.outputMode("update")
            .foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        while _commit_time(ckpt, 0) is None:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed during catch-up: {q.exception()}")
            time.sleep(0.02)
    catchup_s = _commit_time(ckpt, 0) - t_start

    # live phase: the generator keeps its schedule whatever the query does
    period = 1.0 / FILES_PER_S
    t0 = time.time() + 0.2
    due = [t0 + k * period for k in range(len(payloads))]
    late: list[float] = []

    def generate() -> None:
        for k, (name, data) in enumerate(zip(live_names, payloads)):
            wait = due[k] - time.time()
            if wait > 0:
                time.sleep(wait)
            tmp = os.path.join(watch, f".{name}.tmp")
            with open(tmp, "wb") as f:
                f.write(data)
            os.rename(tmp, os.path.join(watch, name))
            late.append(time.time() - due[k])

    gen_thread = threading.Thread(target=generate, daemon=True)
    with tr.span("stream.live"):
        gen_thread.start()
        gen_thread.join()
        # drain: wait until every live file is in a committed batch
        deadline = time.time() + DRAIN_TIMEOUT_S
        while time.time() < deadline and q.exception() is None:
            log = _source_log(ckpt)
            batches = [log.get(n) for n in live_names]
            if None not in batches and _commit_time(ckpt, max(batches)) is not None:
                break
            time.sleep(0.05)
    q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")

    log = _source_log(ckpt)
    lat, waits = [], []
    progress = {p["batchId"]: p for p in _progress(q)}
    for k, name in enumerate(live_names):
        b = log.get(name)
        c = _commit_time(ckpt, b) if b is not None else None
        if c is None:
            continue
        lat.append((c - due[k]) * 1000.0)
        if b in progress:
            waits.append((_epoch(progress[b]["timestamp"]) - due[k]) * 1000.0)
    ctx.attempted += len(live_names)
    ctx.failed += len(live_names) - len(lat)
    if not lat:
        raise RuntimeError("no live file was committed")

    ctx.phase("check")
    ctx.attempted += 1
    checked: dict = {}
    if not ctx.guard("check", lambda: checked.update(check_stream(sink, inp["parquet"], MERGE_FIELDS))):
        ctx.failed += 1

    third = max(1, len(lat) // 3)
    tail_p, tail_v = tail_percentile(lat)
    live = [p for b, p in sorted(progress.items()) if b > 0]

    def p50(f) -> float:
        xs = [f(p) for p in live]
        xs = [x for x in xs if x is not None]
        return median(xs) if xs else 0.0

    def state(p, key):
        ops = p.get("stateOperators") or []
        return sum(o.get(key, 0) for o in ops) if ops else None

    ctx.log("live batches (trigger ms / input rows): " + " ".join(
        f"{p['durationMs'].get('triggerExecution')}/{p.get('numInputRows')}" for p in live))
    last = live[-1] if live else {}
    layer = {
        "stream.latency_p95_ms": tail_v,
        "stream.latency_tail_pct": tail_p * 100.0,
        "stream.latency_samples": len(lat),
        "stream.latency_drift": median(lat[-third:]) / median(lat[:third]),
        "stream.gen_late_ms_max": max(late) * 1000.0,
        "stream.catchup_lines_per_s": inp["backlog_lines"] / catchup_s,
        "stream.trigger_ms_p50": p50(lambda p: p["durationMs"].get("triggerExecution")),
        "stream.add_batch_ms_p50": p50(lambda p: p["durationMs"].get("addBatch")),
        "stream.query_planning_ms_p50": p50(lambda p: p["durationMs"].get("queryPlanning")),
        "stream.latest_offset_ms_p50": p50(lambda p: p["durationMs"].get("latestOffset")),
        "stream.wal_commit_ms_p50": p50(lambda p: p["durationMs"].get("walCommit")),
        "stream.queue_wait_ms_p50": median(waits) if waits else 0.0,
        "stream.rows_per_batch_p50": p50(lambda p: p.get("numInputRows")),
        "stream.batches": len(live),
        "stream.state_commit_ms_p50": p50(lambda p: state(p, "commitTimeMs")),
        "stream.state_rows": state(last, "numRowsTotal") or 0,
        "stream.state_bytes": state(last, "memoryUsedBytes") or 0,
        "stream.state_rows_updated_p50": p50(lambda p: state(p, "numRowsUpdated")),
        "stream.emit_amplification": (
            checked["emitted"] / checked["rows"] if checked.get("rows") else 0.0
        ),
        "stream.sink_write_ms_p50": median(sink_ms[1:]) if len(sink_ms) > 1 else 0.0,
    }
    e2e = {"cold_s": catchup_s, "latency_p50_ms": median(lat)}
    return {"e2e": e2e, "layer": layer}
