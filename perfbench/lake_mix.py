"""lake_mix: closed loop, one client, a fixed sequence of registry keys
over star-schema parquet tables, each as ``REGISTRY[k].fn(spark, sf)``.

The cold pass collects every key's result (Arrow ``toPandas``) for the
oracle check; warm passes write each key to the noop sink until the
measuring time is spent. A warm pass is timed per key, and the pass
latency is the sum over keys of each key's median warm time.
"""

from __future__ import annotations

import time

import gen
from common import job_stats, median, noop
from oracle import check_lake

SCALE = 0.01
MIN_WARM = 3
# a small heap fills the same way every run, so peak memory repeats
DRIVER_MEM = "1g"

TPCH_KEYS = ("q_tpch_q3", "q_tpch_q6", "q_tpch_q9", "q_tpch_q18")
GROUPS = {
    "dedup": ("q_dedup_exact",),
    "similarity": ("q_sim_search",),
    "text": ("q_text_stats",),
    "pipeline": ("q_pipeline_curation",),
}
CURATION_KEYS = tuple(k for ks in GROUPS.values() for k in ks)
KEYS = TPCH_KEYS + CURATION_KEYS
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "documents", "embeddings")


def prepare(cache: str, seed: int, seconds: int) -> dict:
    return gen.lake_tables(cache, seed, SCALE)


def tune_dir(inputs: dict) -> str:
    return inputs["dir"]


def describe(inputs: dict) -> dict:
    return {"scale": SCALE, "rows": inputs["rows"], "keys": len(KEYS), "sha256_16": inputs["sha256_16"]}


def run(ctx) -> dict:
    from gps_stream_processing_spark.plans.registry import REGISTRY

    spark, tr, sf = ctx.spark, ctx.tracer, ctx.inputs["dir"]
    results = {}

    def collect(k: str) -> None:
        results[k] = REGISTRY[k].fn(spark, sf).toPandas()

    t = time.perf_counter()
    with tr.span("lake.pass", kind="cold"):
        for k in KEYS:
            with tr.span(f"lake.q.{k}"):
                ok = ctx.guard(k, lambda: collect(k))
            ctx.attempted += 1
            ctx.failed += not ok
    cold = time.perf_counter() - t

    build = {k: [] for k in KEYS}
    execute = {k: [] for k in KEYS}

    def one(k: str) -> None:
        t0 = time.perf_counter()
        with tr.span("plans.build", key=k):
            df = REGISTRY[k].fn(spark, sf)
        t1 = time.perf_counter()
        with tr.span("plans.execute", key=k):
            noop(df)
        build[k].append(t1 - t0)
        execute[k].append(time.perf_counter() - t1)

    deadline = time.perf_counter() + ctx.seconds
    passes = 0
    while time.perf_counter() < deadline or passes < MIN_WARM:
        with tr.span("lake.pass", kind="warm"):
            for k in KEYS:
                with tr.span(f"lake.q.{k}"):
                    ok = ctx.guard(k, lambda: one(k))
                ctx.attempted += 1
                ctx.failed += not ok
        passes += 1

    ctx.phase("check")
    for k in KEYS:
        if k not in results:
            continue  # its failure is already counted
        ctx.attempted += 1
        ok = ctx.guard(f"check {k}", lambda: check_lake(k, results[k], REGISTRY[k].oracle, sf, TABLES))
        ctx.failed += not ok

    per_key = {k: median([b + e for b, e in zip(build[k], execute[k])]) for k in KEYS if build[k]}
    layer = {f"lake.q.{k}_s": v for k, v in per_key.items()}
    layer["lake.tpch_s"] = sum(per_key.get(k, 0.0) for k in TPCH_KEYS)
    layer["lake.curation_s"] = sum(per_key.get(k, 0.0) for k in CURATION_KEYS)
    for g, ks in GROUPS.items():
        layer[f"lake.{g}_s"] = sum(per_key.get(k, 0.0) for k in ks)
    layer["lake.tpch.build_s"] = sum(median(build[k]) for k in TPCH_KEYS if build[k])
    layer["lake.tpch.exec_s"] = sum(median(execute[k]) for k in TPCH_KEYS if execute[k])
    e2e = {"cold_s": cold, "latency_p50_ms": sum(per_key.values()) * 1000.0}
    if ctx.trace:
        layer.update(_layers(ctx, sf))
    return {"e2e": e2e, "layer": layer}


def _layers(ctx, sf: str) -> dict:
    """Noop scan of every table the mix reads, and the scheduler's work
    in one warm pass."""
    from gps_stream_processing_spark.plans.registry import REGISTRY
    from gps_stream_processing_spark.sources.tables import load_table

    spark, tr = ctx.spark, ctx.tracer
    scan = 0.0
    for name in TABLES:
        ts = []
        for _ in range(3):
            t = time.perf_counter()
            with tr.span("sources.tables.scan", table=name):
                noop(load_table(spark, sf, name))
            ts.append(time.perf_counter() - t)
        scan += median(ts)
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-pass", "one warm lake_mix pass")
    with tr.span("lake.pass", kind="scheduling"):
        for k in KEYS:
            noop(REGISTRY[k].fn(spark, sf))
    sc.setJobGroup("perfbench-other", "")
    jobs, _, tasks = job_stats(sc, "perfbench-pass")
    return {"lake.scan_s": scan, "lake.jobs_per_pass": jobs, "lake.tasks_per_pass": tasks}
