"""fix_batch: closed loop, one client, passes back to back over an NMEA
archive (one text file per receiver).

A pass is the reference's whole dataflow: ``read_nmea_text`` →
``gps_fix_pipeline`` (parse → ``$CurrentUTC`` forward-fill → upsert
merge) → ``flagship_from_fixes`` (5-minute windows) → noop sink.
"""

from __future__ import annotations

import os
import time

import gen
from common import job_stats, median, noop
from oracle import check_fixes, write_fixes

RECEIVERS = 100
SECONDS = 300
MIN_WARM = 4  # measured warm passes
# a small heap fills the same way every run, so peak memory repeats
DRIVER_MEM = "1g"


def prepare(cache: str, seed: int, seconds: int) -> dict:
    return gen.fix_archive(cache, seed, RECEIVERS, SECONDS)


def tune_dir(inputs: dict) -> str:
    return inputs["text_dir"]


def describe(inputs: dict) -> dict:
    return {k: inputs[k] for k in ("files", "lines", "bytes", "sha256_16")}


def _pass(spark, path: str) -> None:
    from gps_stream_processing_spark.operators.gps_fix import (
        flagship_from_fixes,
        gps_fix_pipeline,
    )
    from gps_stream_processing_spark.sources.nmea import read_nmea_text

    noop(flagship_from_fixes(gps_fix_pipeline(read_nmea_text(spark, path))))


def run(ctx) -> dict:
    spark, tr, inp = ctx.spark, ctx.tracer, ctx.inputs
    path = inp["text_dir"]
    ops = []  # (seconds, ok)

    def one(label: str) -> float:
        t = time.perf_counter()
        with tr.span("fix_batch.pass", kind=label):
            ok = ctx.guard(label, lambda: _pass(spark, path))
        dt = time.perf_counter() - t
        ops.append((dt, ok))
        return dt

    cold = one("cold")
    deadline = time.perf_counter() + ctx.seconds
    # Warm-up, not timed: the JIT is still compiling the pipeline's hot
    # code, so run it once more, writing the merged fixes the check reads.
    fixes_dir = os.path.join(ctx.tmp_root, "fixes")
    wrote = ctx.guard("warm-up", lambda: write_fixes(spark, path, fixes_dir))
    warm = []
    while time.perf_counter() < deadline or len(warm) < MIN_WARM:
        warm.append(one("warm"))
    ctx.log("warm passes (s): " + " ".join(f"{t:.3f}" for t in warm))
    ctx.attempted += len(ops)
    ctx.failed += sum(1 for _, ok in ops if not ok)
    p50 = median(warm)
    e2e = {"cold_s": cold, "latency_p50_ms": p50 * 1000.0}
    layer = {"fix_batch.lines_per_s": inp["lines"] / p50, "fix_batch.passes": len(warm)}

    # correctness, outside the timed passes
    ctx.phase("check")
    ctx.attempted += 1
    if not (wrote and ctx.guard("check", lambda: check_fixes(path, inp["parquet"], fixes_dir))):
        ctx.failed += 1

    if ctx.trace:
        layer.update(_layers(ctx, path))
    return {"e2e": e2e, "layer": layer}


def _layers(ctx, path: str) -> dict:
    """Prefix timings of the pipeline (each written to noop), exact
    counts, and the scheduler's work per pass."""
    from gps_stream_processing_spark.operators.gps_fix import (
        flagship_from_fixes,
        merge_fixes,
        parse_sentences,
        with_fix_key,
    )
    from gps_stream_processing_spark.sources.nmea import read_nmea_text

    spark, tr = ctx.spark, ctx.tracer
    prefixes = {
        "read": lambda: read_nmea_text(spark, path),
        "parse": lambda: parse_sentences(read_nmea_text(spark, path)),
        "fill": lambda: with_fix_key(parse_sentences(read_nmea_text(spark, path))),
        "merge": lambda: merge_fixes(with_fix_key(parse_sentences(read_nmea_text(spark, path)))),
    }
    out = {}
    for name, build in prefixes.items():
        ts = []
        for _ in range(3):
            t = time.perf_counter()
            with tr.span(f"gps_fix.upto_{name}"):
                noop(build())
            ts.append(time.perf_counter() - t)
        out[f"gps_fix.upto_{name}_s"] = median(ts)
    # self time of a stage = its prefix minus the prefix before it
    out["gps_fix.parse_self_s"] = out["gps_fix.upto_parse_s"] - out["gps_fix.upto_read_s"]
    out["gps_fix.fill_self_s"] = out["gps_fix.upto_fill_s"] - out["gps_fix.upto_parse_s"]
    out["gps_fix.merge_self_s"] = out["gps_fix.upto_merge_s"] - out["gps_fix.upto_fill_s"]

    sc = spark.sparkContext
    sc.setJobGroup("perfbench-pass", "one warm fix_batch pass")
    with tr.span("fix_batch.pass", kind="scheduling"):
        _pass(spark, path)
    sc.setJobGroup("perfbench-other", "")
    _, stages, tasks = job_stats(sc, "perfbench-pass")
    out["fix_batch.stages_per_pass"] = stages
    out["fix_batch.tasks_per_pass"] = tasks

    with tr.span("gps_fix.counts"):
        lines = read_nmea_text(spark, path)
        parsed = parse_sentences(lines)
        keyed = with_fix_key(parsed)
        fixes = merge_fixes(keyed)
        n = {
            "lines_in": lines.count(),
            "sentences": parsed.count(),
            "keyed_rows": keyed.count(),
            "fixes": fixes.count(),
            "windows": flagship_from_fixes(fixes).count(),
        }
    out.update({f"gps_fix.{k}": v for k, v in n.items()})
    out["gps_fix.sentence_yield"] = n["sentences"] / n["lines_in"]
    return out
