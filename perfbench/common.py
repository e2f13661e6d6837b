"""Shared pieces of the benchmark: host settings, session set-up, the
span tracer, the process-tree RSS sampler and small statistics helpers."""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time

CPUS = 4


def host_env(tmp_root: str, driver_mem: str) -> None:
    """Pin the host settings every workload runs under: ``local[4]``,
    driver memory well below the host's, and every scratch directory
    (Spark local dirs, JVM and Python temp files) under ``tmp_root``."""
    local = os.path.join(tmp_root, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    os.environ.pop("SPARK_MASTER", None)


def session_conf(tmp_root: str) -> dict[str, str]:
    local = os.path.join(tmp_root, "spark-local")
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(tmp_root, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={local}",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(tmp_root: str, tune_dir: str):
    """One set-up of the program's session: import it, ``get_spark``,
    ``tune_session``. Returns (spark, {"setup_s", "get_spark_s",
    "tune_s"}); the first call in a process also imports pyspark and
    launches the JVM."""
    t0 = time.perf_counter()
    from gps_stream_processing_spark.plans.registry import tune_session
    from gps_stream_processing_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{CPUS}]", extra_conf=session_conf(tmp_root)
    )
    t2 = time.perf_counter()
    tune_session(spark, tune_dir)
    t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "get_spark_s": t2 - t1, "tune_s": t3 - t2}


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        proc.wait(timeout=60)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """In-memory spans (name, start, end, parent); written out at exit.

    Disabled tracers record nothing; ``span`` still works as a context
    manager so measured code is identical with tracing on and off."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()  # per-thread stack of open spans
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def self_times(self) -> dict[str, float]:
        """Sum per span name of duration minus the time its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child.get(i, 0.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            stack = t._stack()
            with t._lock:
                self.idx = len(t.spans)
                t.spans.append({
                    "name": self.name,
                    "start": time.perf_counter(),
                    "end": None,
                    "parent": stack[-1] if stack else None,
                    **self.attrs,
                })
            stack.append(self.idx)
        return self

    def __exit__(self, *exc) -> None:
        t = self.tracer
        if t.enabled:
            t.spans[self.idx]["end"] = time.perf_counter()
            t._stack().pop()


def _tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _start_time(pid: int) -> str | None:
    """Start time of a live process (tells a reused pid apart); None once
    it has ended or is a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in ("Z", "X") else fields[19]


def adopt_orphans() -> None:
    """Make this process the reaper of orphans below it (Linux
    ``PR_SET_CHILD_SUBREAPER``): what the JVM starts and leaves behind
    (the launcher's helper shell, Python workers) stays in this process's
    tree, where it is waited for, instead of passing to init."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # 36 = PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_children() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def descendants() -> list[tuple[int, str]]:
    """(pid, start time) of every live process below this one."""
    out = []
    for pid in _tree_pids(os.getpid())[1:]:
        start = _start_time(pid)
        if start is not None:
            out.append((pid, start))
    return out


def end_processes(procs: list[tuple[int, str]], grace: float) -> None:
    """Wait up to ``grace`` seconds for each process to end, then
    terminate, then kill those left, and wait for them."""
    for sig, wait in ((None, grace), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            for pid, _ in procs:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait
        while True:
            reap_children()
            procs = [(pid, start) for pid, start in procs if _start_time(pid) == start]
            if not procs:
                return
            if time.monotonic() >= deadline:
                break
            time.sleep(0.05)
    raise RuntimeError(f"processes {[p for p, _ in procs]} did not end")


def _tree_pss_kb(root: int) -> int:
    """Proportional set size of the process tree: pages shared between
    forked Python workers count once, not once per worker."""
    total = 0
    for pid in _tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the resident memory (PSS) of the benchmark's process tree
    (driver JVM and Python workers included) every ``interval`` seconds
    in a daemon thread."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, _tree_pss_kb(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(xs: list[float], min_beyond: int = 10) -> tuple[float, float]:
    """(p, value): the highest of p95/p90/p75/p50 with at least
    ``min_beyond`` samples above it (nearest-rank)."""
    s = sorted(xs)
    n = len(s)
    for p in (0.95, 0.90, 0.75, 0.50):
        k = max(0, min(n - 1, int(-(-p * n // 1)) - 1))
        if n - 1 - k >= min_beyond:
            return p, s[k]
    return 0.5, s[n // 2] if s else float("nan")


def job_stats(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) the scheduler ran under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks
