"""Locate a pure-Python ``google.protobuf`` runtime when none is installed.

Spark 4's ``transformWithStateInPandas`` Python worker speaks protobuf
to the JVM state server (``pyspark/sql/streaming/proto/StateMessage_pb2``,
gencode pinned to protoc 6.33.0). This container ships no ``protobuf``
pip package and installs are off-limits, but a pure-Python protobuf
runtime is commonly present on hosts anyway because public SDKs vendor
one (the Google Cloud SDK ships protobuf — BSD-licensed public code —
under ``platform/google_appengine/google/protobuf``). This module
*discovers* such a runtime and wires it up; it copies nothing.

Discovery wires a SHIM directory, not the SDK tree itself: the
candidate trees carry dozens of other importable modules (google.auth,
api_server, dev_appserver, ...) that would shadow same-named installed
packages on a worker's PYTHONPATH, so a private temp dir exposing only
a ``google/protobuf`` symlink (namespace-package ``google`` — merges
with installed ``google.*`` distributions) is what goes on the path.

Two wiring points, both required:

- **Driver**: append the shim dir to ``sys.path`` and set protobuf's
  own documented escape hatch ``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK``
  (runtime_version.py honors it) — needed because a discovered runtime
  may be an adjacent minor (6.32 vs the 6.33 gencode); the descriptor
  wire format is stable across minors, verified by the round-trip probe
  below. The flag is only ever left set when the shim is ACTIVE, i.e.
  no protobuf is installed at all — so the disabled cross-version
  check can only apply to gencode served by the discovered runtime.
- **Workers**: inject the same two settings (shim dir + flag) into
  ``sc.environment``.
  PySpark reads that dict at every function-wrap
  (``pyspark/core/rdd.py::_prepare_for_python_RDD`` returns
  ``sc.environment`` into ``SimplePythonFunction``), and the JVM's
  ``PythonWorkerFactory`` merges an env-var ``PYTHONPATH`` into the
  worker's path — so the injection works even when the JVM predates
  this import (the driver harness owns session creation). It must run
  before the FIRST Python function is wrapped in the session, or the
  changed env key spawns a second worker-daemon pool and every warmed
  worker is lost. Hence the call lives in exactly two places, both
  ahead of any wrap: ``session.get_spark`` (every session the engine
  builds) and ``registry.tune_session`` (first thing every registered
  query does, for a session the caller built) — never in a TWS builder.

Capability is probed end-to-end (`tws_available`): import the actual
pyspark gencode and round-trip a message, so a too-old discovered
runtime (e.g. 4.x without ``runtime_version``) cleanly reports
unavailable instead of failing mid-query in a worker.
"""

from __future__ import annotations

import os
import sys

from gps_stream_processing_spark.session import append_worker_path

# Public, well-known install locations of a pure-Python google.protobuf
# runtime; extendable via the env var for unusual hosts. Each candidate
# must contain google/protobuf/__init__.py to qualify.
_CANDIDATE_DIRS = (
    os.environ.get("GPS_SPARK_PROTOBUF_DIR", ""),
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)

_DISABLE_FLAG = "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"

# The active SHIM dir (google/protobuf symlink only), or None when
# google.protobuf imports natively (no wiring needed) or no usable
# runtime exists.
_vendor_dir: str | None = None
_probed = False


def _shim_ok(shim: str, target: str) -> bool:
    """True iff ``shim`` is a directory WE own, private to us (no
    group/other permission bits), whose ``google/protobuf`` entry is a
    symlink resolving to exactly ``target``. Anything else — foreign
    owner, looser mode, a regular dir/file where the link should be, a
    link pointing elsewhere — is untrusted and must not reach
    ``sys.path``/worker ``PYTHONPATH`` (ADVICE r6: a pre-created
    world-writable path under the predictable name would hand the
    attacker driver+executor code execution)."""
    import stat

    try:
        st = os.lstat(shim)
    except OSError:
        return False
    if not stat.S_ISDIR(st.st_mode):
        return False
    if st.st_uid != os.getuid() or st.st_mode & 0o077:
        return False
    link = os.path.join(shim, "google", "protobuf")
    return os.path.islink(link) and os.path.realpath(link) == target


def _make_shim(vendor_dir: str) -> str:
    """Build (or reuse) an isolated shim dir exposing ONLY
    ``google/protobuf`` from ``vendor_dir`` via symlink.

    The candidate dirs are full SDK platform trees carrying dozens of
    other importable top-level modules (api_server, dev_appserver,
    google.auth, google.appengine, ...); putting the tree itself on a
    worker's PYTHONPATH would shadow same-named installed packages.
    The shim's ``google`` directory has no ``__init__.py`` (namespace
    package), so it MERGES with any installed ``google.*`` namespace
    distributions instead of masking them.

    Trust model (ADVICE r6): the deterministic per-user path is reused
    ONLY after :func:`_shim_ok` verifies ownership, 0700 mode, and that
    the symlink resolves to the vendor tree — a path someone else
    pre-created under the predictable name fails verification and we
    fall back to a fresh private ``mkdtemp`` (0700 by contract), never
    importing through a directory we did not fully validate. Workers
    need no path derivation: they receive whichever dir won via the
    injected ``PYTHONPATH``."""
    import hashlib
    import tempfile

    target = os.path.realpath(os.path.join(vendor_dir, "google", "protobuf"))
    tag = hashlib.md5(vendor_dir.encode()).hexdigest()[:12]
    shim = os.path.join(
        tempfile.gettempdir(), f"gps_spark_pb_shim_{os.getuid()}_{tag}"
    )
    if _shim_ok(shim, target):
        return shim  # verified reuse — the common warm path
    try:
        os.mkdir(shim, mode=0o700)  # no exist_ok: pre-existing = untrusted
        os.mkdir(os.path.join(shim, "google"), mode=0o700)
        os.symlink(target, os.path.join(shim, "google", "protobuf"))
    except OSError:
        pass  # lost a race / squatter on the name — verify below decides
    if _shim_ok(shim, target):
        return shim
    # Deterministic name unusable (foreign dir, wrong link, symlink-less
    # FS probe happens at the caller) — fresh private dir, no reuse.
    shim = tempfile.mkdtemp(prefix="gps_spark_pb_shim_")
    os.mkdir(os.path.join(shim, "google"), mode=0o700)
    os.symlink(target, os.path.join(shim, "google", "protobuf"))
    return shim


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable in THIS process if possible.

    Returns True iff the import succeeds (natively or via a discovered
    runtime). Idempotent; records the discovered shim dir for
    :func:`configure_worker_env`. A candidate that fails to import is
    rolled back completely — sys.path entry, the version-check env
    flag, and any partially-imported ``google.*`` modules — so a failed
    probe leaves no trace. On SUCCESS the flag stays set for the
    process: every protobuf consumer here is necessarily using the
    discovered runtime (there is no installed one), so the disabled
    cross-version check can only apply to gencode this runtime serves."""
    global _vendor_dir, _probed
    if _probed:
        return _vendor_dir is not None or _native_ok()
    _probed = True
    if _native_ok():
        return True
    for d in _CANDIDATE_DIRS:
        if not d or not os.path.isfile(
            os.path.join(d, "google", "protobuf", "__init__.py")
        ):
            continue
        try:
            shim = _make_shim(d)
        except OSError:
            continue  # unwritable tmp / symlink-less FS: skip candidate
        prev_flag = os.environ.get(_DISABLE_FLAG)
        prev_google_mods = {
            m for m in sys.modules if m == "google" or m.startswith("google.")
        }
        added = shim not in sys.path
        if added:
            sys.path.append(shim)
        os.environ[_DISABLE_FLAG] = "true"
        if _native_ok():
            _vendor_dir = shim
            return True
        # Roll back everything this candidate touched, then keep
        # scanning: path entry (only if WE added it), env flag, and
        # google.* modules a partial import may have cached (they
        # would mask the next candidate's import).
        if added:
            sys.path.remove(shim)
        if prev_flag is None:
            os.environ.pop(_DISABLE_FLAG, None)
        else:
            os.environ[_DISABLE_FLAG] = prev_flag
        for m in list(sys.modules):
            if (m == "google" or m.startswith("google.")) and (
                m not in prev_google_mods
            ):
                del sys.modules[m]
    return False


def _native_ok() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def configure_worker_env(spark) -> None:
    """Propagate the discovered runtime to Spark Python workers.

    No-op unless a vendor dir is active. Mutates ``sc.environment``
    (consulted per function-wrap, merged additively with Spark's own
    worker PYTHONPATH by PythonWorkerFactory), so it reaches workers
    even on a JVM launched before this module imported."""
    ensure_protobuf()  # idempotent; resolves _vendor_dir on first call
    if _vendor_dir is None:
        return
    try:
        env = spark.sparkContext.environment
    except Exception:  # noqa: BLE001 — e.g. Spark Connect has no local sc
        return
    env[_DISABLE_FLAG] = "true"
    append_worker_path(env, _vendor_dir)


def tws_available() -> bool:
    """True iff ``transformWithStateInPandas`` can actually run here:
    the pyspark state-server gencode imports against the available
    protobuf runtime and round-trips a message."""
    if not ensure_protobuf():
        return False
    try:
        from pyspark.sql.streaming.proto import StateMessage_pb2 as m
    except Exception:  # noqa: BLE001 — version-gate or layout mismatch
        return False
    req = m.StateRequest(version=2)
    out = m.StateRequest()
    out.ParseFromString(req.SerializeToString())
    return out.version == 2
