"""SparkSession factory (SURVEY.md §7 step 0).

The reference is single-threaded and in-memory
(``class.nmea.parser.php:1-399`` — no threads, no spill); our engine runs
on Spark with AQE, UTC session time, and shuffle parallelism sized for
the host. On a real cluster the same builder is used with
``master``/memory settings supplied by the deployment, so everything
scale-relevant lives in plain configs here.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession


# Runtime SQL confs every engine session carries. get_spark builds with
# them, and plans.registry.tune_session re-applies them to whatever
# session a caller hands the registry, so both paths plan identically.
SESSION_CONF: dict[str, str] = {
    # AQE: runtime partition coalescing, skew-join splitting and
    # broadcast demotion replace hand-tuned plans.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # UTC pins timestamp semantics: the reference's ``mktime`` was
    # local-time (class.nmea.parser.php:94), DuckDB oracles compare
    # naive-UTC.
    "spark.sql.session.timeZone": "UTC",
    # Every pandas boundary crossing (toPandas, pandas UDFs) is
    # Arrow-batched.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # UDTFs too: ArrowEvalPythonUDTF replaces the row-at-a-time
    # BatchEvalPythonUDTF (pickle per row) — measured equal at fixture
    # scale, and Arrow batching is the only shape that survives real
    # data volumes.
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # Small-dim broadcast threshold: every dim table in the star schema
    # (region/nation/customer/supplier/part) broadcasts.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Cost-based optimization, the production posture. Both flags are
    # inert for every path-based read (no catalog stats -> CBO falls
    # back to the same size estimates, and joinReorder skips unless ALL
    # joined relations carry row counts); they become load-bearing
    # exactly for the ANALYZEd q_cbo_reorder star tables, where
    # stats-driven reorder is the asserted behavior (tests/test_plans.py
    # pins both the reorder and this inertness-without-stats control).
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # Python DataSource filter pushdown (Spark 4.1, default off): inert
    # for sources that don't implement pushFilters (the default
    # implementation declines every filter); load-bearing for the
    # nmea_synth track-pruning scan (q_custom_source_pushdown).
    "spark.sql.python.filterPushdown.enabled": "true",
}


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on ``spark`` for the body of a ``with``. On every
    exit, failure included, each key gets its previous value back, or is
    unset if it had none. The one place a temporary override is undone:
    a plan whose optimizer reads a conf must run its action inside the
    scope, since the conf is gone once the block exits."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_driver_memory() -> str:
    """Three quarters of physical RAM, capped at 16g. In local mode the
    driver JVM hosts every executor thread AND all broadcast builds, so
    the 1g Spark default OOMs a 64 MB-threshold broadcast long before
    data does; a heap larger than the host's RAM would instead let the
    JVM grow until the OS kills it."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf: not POSIX
        return "16g"
    return f"{min(16 << 10, (ram * 3 // 4) >> 20)}m"


def get_spark(
    app_name: str = "gps_stream_processing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session with :data:`SESSION_CONF`.

    ``spark.sql.shuffle.partitions`` is a *starting* width; AQE
    coalesces. On a 1000-executor cluster this would be set to 2-3×
    total cores instead.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # Only effective for the first session in the process (the JVM
        # is already up afterwards); on a cluster the deployment
        # supplies executor/driver memory instead.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config(map=SESSION_CONF)
        .config("spark.ui.enabled", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Worker-env injection for a discovered protobuf runtime (TWS
    # support) must land BEFORE the session's first Python function
    # wraps: a later sc.environment change re-keys the worker-daemon
    # pool and discards every warmed worker (measured: warmed
    # datasource/UDTF workers were lost to a first-query injection —
    # q_custom_datasource 0.77s -> 3.2s). No-op where protobuf is
    # native or absent. tune_session repeats the call for sessions not
    # built through this factory (e.g. a caller's own).
    from gps_stream_processing_spark.streaming.protobuf_compat import (
        configure_worker_env,
        ensure_protobuf,
    )

    ensure_protobuf()
    configure_worker_env(spark)
    return spark
