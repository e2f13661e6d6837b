"""Benchmark of the GPS stream processing engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload fix_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Workloads (one process each; see perfbench/README.md):
  fix_batch        closed loop: archive replay through the batch fix pipeline
  fix_stream_live  open loop: live JSONL feed through the stateful stream
  lake_mix         closed loop: TPC-H and curation queries over parquet

The last line of standard output is one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import glob
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

from common import (  # noqa: E402
    RssSampler,
    Tracer,
    adopt_orphans,
    descendants,
    end_processes,
    host_env,
    median,
    start_session,
    stop_session,
)
from lake_mix import KEYS as LAKE_KEYS  # noqa: E402

WORKLOADS = {"fix_batch": "fix_batch", "fix_stream_live": "fix_stream", "lake_mix": "lake_mix"}

SPEC = "BENCHMARK.json"  # metric names, units and bounds, at the repository root


def load_spec() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from ``BENCHMARK.json``."""
    with open(SPEC) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    missing = [f"lake.q.{k}_s" for k in LAKE_KEYS if f"lake.q.{k}_s" not in layer]
    missing += [f"trace.overhead.{k}" for k in e2e if f"trace.overhead.{k}" not in layer]
    if missing:
        raise SystemExit(f"perfbench: {SPEC} lacks per-layer metrics {missing}")
    return e2e, layer


# Session set-ups per run: the first launches the JVM, the others stop
# the SparkContext and build the session again in the same JVM.
SETUP_SAMPLES = 5


class Context:
    """What a workload gets: the session, its inputs, the tracer, the
    measuring time, and the attempted/failed tallies it adds to."""

    def __init__(self, spark, inputs: dict, tracer: Tracer, args, tmp_root: str) -> None:
        self.spark, self.inputs, self.tracer = spark, inputs, tracer
        self.seconds, self.trace = args.seconds, bool(args.trace)
        self.tmp_root = tmp_root
        self.attempted = 0
        self.failed = 0
        self.phase = self.log = lambda msg: print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    @staticmethod
    def guard(label: str, fn) -> bool:
        """Run one operation; a raise is reported and counted as failed."""
        try:
            fn()
            return True
        except Exception:  # noqa: BLE001 — every failure is counted, the run goes on
            print(f"[perfbench] {label} failed:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return False


def _untraced(args, results: str) -> tuple[dict, str]:
    """End-to-end values of an untraced run to subtract from the traced
    ones: the cached result of the same workload and seed, else the
    newest cached result of the workload, else a fresh ``--trace 0`` run
    of the same seed in its own process."""
    same = os.path.join(results, f"{args.workload}-s{args.seed}.json")
    cached = glob.glob(os.path.join(results, f"{args.workload}-s*.json"))
    for path in [same] + sorted(cached, key=os.path.getmtime, reverse=True):
        try:
            with open(path) as f:
                return json.load(f), os.path.basename(path)
        except (OSError, ValueError):
            continue
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
        capture_output=True, text=True, timeout=400,
    )
    sys.stderr.write(out.stderr)
    if out.returncode != 0:
        raise RuntimeError("untraced reference run failed")
    metrics = json.loads(out.stdout.strip().splitlines()[-1])["metrics"]
    return {k: v["value"] for k, v in metrics.items()}, "a fresh run of the same seed"


def run_workload(args, e2e_units: dict[str, str], layer_units: dict[str, str]) -> int:
    build = os.path.abspath(".bench_build")
    cache = os.path.join(build, "perfbench-cache")
    results = os.path.join(build, "perfbench-results")
    tmp_root = os.path.join(build, f"perfbench-run-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    mod = importlib.import_module(WORKLOADS[args.workload])
    spark = None
    t0 = time.perf_counter()

    def phase(name: str) -> None:
        print(f"[perfbench] {time.perf_counter() - t0:7.1f} s  {name}", file=sys.stderr, flush=True)

    try:
        untraced, reference = _untraced(args, results) if args.trace else (None, None)
        phase("prepare inputs")
        inputs = mod.prepare(cache, args.seed, args.seconds)
        host_env(tmp_root, mod.DRIVER_MEM)
        tune_dir = mod.tune_dir(inputs)
        phase("session set-ups")
        tracer = Tracer(bool(args.trace))
        setups = []
        for i in range(SETUP_SAMPLES):
            if spark is not None:
                spark.stop()
            with tracer.span("session.setup", first=i == 0):
                spark, parts = start_session(tmp_root, tune_dir)
            setups.append(parts)
        ctx = Context(spark, inputs, tracer, args, tmp_root)
        ctx.phase = phase
        phase("workload")
        with RssSampler() as rss:
            res = mod.run(ctx)
        phase("stop")
        stop_session(spark)
        spark = None
        phase("done")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp_root, ignore_errors=True)

    e2e = {"setup_s": median(s["setup_s"] for s in setups), **res["e2e"], "peak_rss_mb": rss.peak_mb}
    layer = {f"session.{k}": median(s[k] for s in setups) for k in ("get_spark_s", "tune_s")}
    layer["session.first_setup_s"] = setups[0]["setup_s"]
    layer.update(res["layer"])
    if untraced is None:
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump(e2e, f)
    else:
        layer.update({f"trace.overhead.{k}": e2e[k] - untraced[k] for k in e2e_units})
        tracer.write(os.path.join(build, "perfbench-traces", f"{args.workload}-s{args.seed}.json"))
        print(f"[perfbench] tracing overhead measured against {reference}")
        for name, v in sorted(tracer.self_times().items()):
            print(f"[perfbench]   self time {name} = {v:.4f} s")

    if args.trace:
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in e2e_units.items()}
    print(f"[perfbench] workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} inputs={json.dumps(mod.describe(inputs))}")
    for k, u in e2e_units.items():
        print(f"[perfbench]   {k} = {e2e[k]:.4f} {u}")
    for k, v in sorted(layer.items()):
        print(f"[perfbench]   {k} = {v}")
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join("gps_stream_processing_spark", "__init__.py")):
        print("perfbench: run from the repository root; the program package "
              "gps_stream_processing_spark/ is not here", file=sys.stderr)
        return 2
    e2e_units, layer_units = load_spec()
    if args.workload == "all":
        rc = 0
        for w in WORKLOADS:
            rc |= subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
                 str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
            ).returncode
        return rc
    return run_workload(args, e2e_units, layer_units)


if __name__ == "__main__":
    t = time.perf_counter()
    adopt_orphans()
    try:
        rc = main()
    finally:
        end_processes(descendants(), grace=30.0)  # no process outlives the benchmark
    print(f"[perfbench] wall {time.perf_counter() - t:.1f} s", file=sys.stderr)
    sys.exit(rc)
