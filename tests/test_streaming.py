"""Streaming tests (SURVEY §5.2.4): streaming-vs-batch equivalence for
the stateful fix-merge, plus window/watermark behavior smoke checks.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def stream_fixture_dir(tmp_path_factory):
    from gps_stream_processing_spark.streaming.stateful import write_nmea_fixture_json

    d = str(tmp_path_factory.mktemp("nmea_stream"))
    write_nmea_fixture_json(d, n_tracks=2, n_seconds=60)
    return d


def test_streaming_fix_merge_equals_batch(spark, stream_fixture_dir, nmea_df):
    """Same NMEA lines through the streaming stateful merge and the batch
    pipeline → identical merged fixes (SURVEY §5.2.4). The batch fixture
    (nmea_df) and json stream share the generator with the same shape."""
    from gps_stream_processing_spark.operators.gps_fix import (
        gps_fix_pipeline,
        parse_sentences,
    )
    from gps_stream_processing_spark.streaming.runner import run_available_now
    from gps_stream_processing_spark.streaming.stateful import (
        nmea_json_stream,
        streaming_fix_merge,
    )

    parsed = parse_sentences(nmea_json_stream(spark, stream_fixture_dir))
    stream_out = run_available_now(streaming_fix_merge(parsed), output_mode="update")
    s = (
        stream_out.select(
            "track_id", "utc", "lat", "lon", "num_sat", "hdop", "speed_knots"
        )
        .toPandas()
        .sort_values(["track_id", "utc"], ignore_index=True)
    )

    batch = gps_fix_pipeline(nmea_df)  # nmea_df: n_tracks=2, n_seconds=60
    b = (
        batch.select("track_id", "utc", "lat", "lon", "num_sat", "hdop", "speed_knots")
        .toPandas()
        .sort_values(["track_id", "utc"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(s, b, check_dtype=False)


def _has_protobuf() -> bool:
    # Same capability probe the registry gate uses: native protobuf OR
    # a discovered pure-Python runtime that round-trips the pyspark
    # state-server gencode (streaming/protobuf_compat.py).
    from gps_stream_processing_spark.streaming.protobuf_compat import (
        tws_available,
    )

    return tws_available()


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (absent here); "
    "the merge core it shares with applyInPandasWithState is covered by "
    "test_streaming_fix_merge_equals_batch",
)
def test_tws_fix_merge_equals_batch(spark, stream_fixture_dir, nmea_df):
    """transformWithStateInPandas twin of the merge-equality test: the
    Spark 4 stateful API over the same merge core must reproduce the
    batch pipeline exactly (RocksDB state store provider)."""
    from gps_stream_processing_spark.operators.gps_fix import (
        gps_fix_pipeline,
        parse_sentences,
    )
    from gps_stream_processing_spark.streaming.runner import (
        rocksdb_state_store,
        run_available_now,
    )
    from gps_stream_processing_spark.streaming.stateful import (
        nmea_json_stream,
        streaming_fix_merge_tws,
    )

    with rocksdb_state_store(spark):
        parsed = parse_sentences(nmea_json_stream(spark, stream_fixture_dir))
        stream_out = run_available_now(
            streaming_fix_merge_tws(parsed), output_mode="update"
        )
        cols = ["track_id", "utc", "lat", "lon", "num_sat", "hdop", "speed_knots"]
        s = stream_out.select(*cols).toPandas().sort_values(
            ["track_id", "utc"], ignore_index=True
        )
        b = gps_fix_pipeline(nmea_df).select(*cols).toPandas().sort_values(
            ["track_id", "utc"], ignore_index=True
        )
        pd.testing.assert_frame_equal(s, b, check_dtype=False)


def _fold_in_batches(track_id, frames):
    """Feed ``frames`` through ``merge_batch`` one micro-batch each,
    threading the state; returns the emitted rows per batch."""
    from gps_stream_processing_spark.streaming.stateful import merge_batch

    emitted, state = [], None
    for frame in frames:
        out, state = merge_batch(track_id, iter([frame]), state)
        emitted.append(out)
    return emitted


def _last_versions(emitted) -> dict:
    """The sink's view under update mode: the latest version of each
    (track_id, utc) wins."""
    return {(r[0], r[1]): r for out in emitted for r in out}


def _merged_cols(row) -> tuple:
    from gps_stream_processing_spark.streaming.stateful import MERGE_FIELDS

    return tuple(row[f] for f in MERGE_FIELDS) + (",".join(sorted(row["sentence_types"])),)


def _stream_cols(row) -> tuple:
    return tuple(row[2:-1])  # (*MERGE_FIELDS, sentence_types)


def test_stream_date_follows_revisit_like_batch(spark):
    """A fix-second revisited after a later RMC brought a new date takes
    the forward-filled date after its latest row, as the batch pipeline's
    ``last(date_key)`` and the DuckDB twin do — not the date it had when
    it opened. Checked with all lines in one micro-batch and with one
    line per micro-batch."""
    from gps_stream_processing_spark.operators.gps_fix import (
        gps_fix_pipeline,
        parse_sentences,
    )
    from gps_stream_processing_spark.schemas import NMEA_LINE_SCHEMA
    from gps_stream_processing_spark.sources.nmea import nmea_checksum
    from gps_stream_processing_spark.streaming.stateful import MERGE_FIELDS

    bodies = [
        "GPRMC,120000,A,4807.038,N,01131.000,E,022.4,084.4,010124,003.1,W",
        "GPRMC,120001,A,4807.040,N,01131.002,E,022.5,084.5,020124,003.1,W",
        "GPGGA,120000,0100.000,N,01131.000,E,1,08,0.9,545.4,M,46.9,M,,",
    ]
    lines = spark.createDataFrame(
        [(i, 7, f"${b}*{nmea_checksum(b)}") for i, b in enumerate(bodies)],
        NMEA_LINE_SCHEMA,
    )
    want = {r["utc"]: _merged_cols(r) for r in gps_fix_pipeline(lines).collect()}
    assert want["120000"][0] == "020124" and want["120000"][1] == 1.0

    rows = (
        parse_sentences(lines)
        .select("line_no", "track_id", "stype", "utc", *MERGE_FIELDS)
        .toPandas()
    )
    for frames in ([rows], [rows.iloc[[i]] for i in range(len(rows))]):
        got = _last_versions(_fold_in_batches(7, frames))
        assert {utc: _stream_cols(r) for (_, utc), r in got.items()} == want


@pytest.fixture(scope="module")
def parsed_fixture_by_track(spark):
    """The committed NMEA fixture (3 receivers × 120 s, more fix-seconds
    per receiver than ``MAX_OPEN_FIXES``), parsed once with Spark, as
    per-track pandas frames in ``line_no`` order, plus the batch
    pipeline's fixes of the same lines."""
    from gps_stream_processing_spark.operators.gps_fix import (
        gps_fix_pipeline,
        parse_sentences,
    )
    from gps_stream_processing_spark.sources.nmea import nmea_fixture_df
    from gps_stream_processing_spark.streaming.stateful import MERGE_FIELDS

    lines = nmea_fixture_df(spark)
    parsed = (
        parse_sentences(lines)
        .select("line_no", "track_id", "stype", "utc", *MERGE_FIELDS)
        .toPandas()
        .sort_values("line_no", ignore_index=True)
    )
    by_track = {int(t): g.reset_index(drop=True) for t, g in parsed.groupby("track_id")}
    batch = {
        (r["track_id"], r["utc"]): _merged_cols(r)
        for r in gps_fix_pipeline(lines).collect()
    }
    return by_track, batch


def test_fix_merge_split_invariance_property(parsed_fixture_by_track):
    """Property (hypothesis): cutting each receiver's parsed rows into
    random micro-batches (rows shuffled inside a batch, which the merge
    re-sorts by ``line_no``) and folding them through ``merge_batch``
    with the state threaded between batches gives:

    - the same last version per ``(track_id, utc)`` as one batch, which
      equals the batch pipeline's fix over the merged fields;
    - each key at most once per batch;
    - no more rows per batch than the keys it touched plus the keys it
      evicted, and every evicted key exactly once over the run;
    - ``is_final`` on the last version equal to the oracle's rule
      (``ORACLE_STREAM_FIX_MERGE``): more than ``MAX_OPEN_FIXES`` keys
      opened after it on its track.

    Within one batch a revisit after eviction merges into the record,
    because eviction runs once at the end of the batch. Across batches
    it still reopens a record holding only the late fields, which then
    replaces the final one downstream: a known bug, open as ROADMAP
    item 1. The fixture never revisits a fix-second after more than
    ``MAX_OPEN_FIXES`` newer ones, so this property does not reach it."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gps_stream_processing_spark.streaming.stateful import MAX_OPEN_FIXES

    by_track, batch = parsed_fixture_by_track
    want_final = {}
    for t, rows in by_track.items():
        opened = list(dict.fromkeys(rows["utc"].ffill().dropna()))
        assert len(opened) > MAX_OPEN_FIXES
        for i, utc in enumerate(opened):
            want_final[(t, utc)] = len(opened) - i > MAX_OPEN_FIXES
    one_batch = {}
    for t, rows in by_track.items():
        one_batch.update(_last_versions(_fold_in_batches(t, [rows])))
    assert {k: _stream_cols(r) for k, r in one_batch.items()} == batch
    assert {k: r[-1] for k, r in one_batch.items()} == want_final

    @settings(max_examples=30, deadline=None)
    @given(data=st.data())
    def check(data):
        got = {}
        for t, rows in by_track.items():
            n = len(rows)
            cuts = sorted(data.draw(st.sets(st.integers(1, n - 1), max_size=40)))
            seed = data.draw(st.integers(0, 2**16))
            bounds = list(zip([0, *cuts], [*cuts, n]))
            frames = [rows.iloc[a:b].sample(frac=1, random_state=seed) for a, b in bounds]
            emitted = _fold_in_batches(t, frames)
            keys = rows["utc"].ffill()
            finals = []
            for (a, b), out in zip(bounds, emitted):
                emitted_keys = [r[1] for r in out]
                assert len(emitted_keys) == len(set(emitted_keys))
                touched = set(keys.iloc[a:b].dropna())
                evicted = [r[1] for r in out if r[-1]]
                assert len(out) <= len(touched) + len(evicted)
                assert {r[1] for r in out if not r[-1]} <= touched
                finals += evicted
            assert len(finals) == len(set(finals))
            got.update(_last_versions(emitted))
        assert got == one_batch

    check()


class _FakeValueState:
    """The ValueState surface ``ValueFoldProcessor`` uses, kept in memory
    the way the store keeps it between micro-batches."""

    def __init__(self):
        self.value = None

    def exists(self):
        return self.value is not None

    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)


def test_value_fold_split_invariance_property():
    """Property (hypothesis): for each value fold (EWMA, Holt, EW
    anomaly), cutting one user's values into consecutive micro-batches
    (rows shuffled inside a batch, which the fold re-sorts by
    ``(us, event_id)``) and threading the stored ``(n, *acc)`` from
    batch to batch gives a final state and a last emission bit-identical
    to folding everything in one batch."""
    import struct
    from types import SimpleNamespace

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gps_stream_processing_spark.streaming.stateful import (
        EW_ANOMALY_OUTPUT_SCHEMA,
        EW_ANOMALY_STATE_SCHEMA,
        EWMA_OUTPUT_SCHEMA,
        EWMA_STATE_SCHEMA,
        HOLT_OUTPUT_SCHEMA,
        HOLT_STATE_SCHEMA,
        ValueFoldProcessor,
        ew_anomaly_fold,
        ewma_fold,
        fold_values,
        holt_fold,
    )

    families = {
        "ewma": (EWMA_STATE_SCHEMA, EWMA_OUTPUT_SCHEMA, ewma_fold()),
        "holt": (HOLT_STATE_SCHEMA, HOLT_OUTPUT_SCHEMA, holt_fold()),
        "anomaly": (EW_ANOMALY_STATE_SCHEMA, EW_ANOMALY_OUTPUT_SCHEMA, ew_anomaly_fold()),
    }

    def bits(t):
        return tuple(struct.pack(">d", v) if isinstance(v, float) else int(v) for v in t)

    value = st.one_of(
        st.floats(-1.0, 1.0, allow_nan=False), st.sampled_from([500.0, -500.0])
    )

    @settings(max_examples=60, deadline=None)
    @given(values=st.lists(value, min_size=1, max_size=60), data=st.data())
    def check(values, data):
        n = len(values)
        us = sorted(data.draw(st.lists(st.integers(0, 20), min_size=n, max_size=n)))
        rows = pd.DataFrame({"us": us, "event_id": range(n), "value": values})
        cuts = sorted(c for c in data.draw(st.sets(st.integers(1, n), max_size=12)) if c < n)
        seed = data.draw(st.integers(0, 2**16))
        bounds = list(zip([0, *cuts], [*cuts, n]))
        for name, (state_schema, output_schema, fold) in families.items():
            one = fold_values(None, iter([rows]), *fold)
            assert one[0] == n
            proc = ValueFoldProcessor(name, state_schema, output_schema, fold)
            store = _FakeValueState()
            proc.init(SimpleNamespace(getValueState=lambda *_: store))
            for a, b in bounds:
                frame = rows.iloc[a:b].sample(frac=1, random_state=seed)
                (emitted,) = proc.handleInputRows((7,), iter([frame]), None)
            assert bits(store.get()) == bits(one), name
            (last,) = emitted.itertuples(index=False, name=None)
            assert bits(last) == bits((7, *one)), name

    check()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late (beyond-watermark) rows are dropped: run 1 finalizes the
    10:00-10:10 window (watermark → 10:21); run 2 — same checkpoint —
    delivers a 10:03 row, which must NOT re-open the finalized window."""
    import json
    import os
    import uuid

    d = tmp_path / "late"
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(d)
    early = [{"event_id": i, "ts": f"2024-01-01 10:{m:02d}:00", "k": "a"}
             for i, m in enumerate([0, 1, 2, 30, 31])]
    late = [{"event_id": 99, "ts": "2024-01-01 10:03:00", "k": "a"}]  # 28 min late
    with open(d / "b1.jsonl", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in early)

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("k", T.StringType()),
        ]
    )

    def run():
        emitted = []
        sdf = (
            spark.readStream.schema(schema)
            .json(str(d))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes"), "k")
            .agg(F.count("*").alias("n"))
        )
        q = (
            sdf.writeStream.foreachBatch(
                lambda df, epoch: emitted.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return emitted

    out1 = run()
    # run 1: only the 10:00-10:10 window is final (end ≤ watermark 10:21)
    assert len(out1) == 1 and out1[0].n == 3

    with open(d / "b2.jsonl", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in late)
    out2 = run()  # same checkpoint → watermark state carried over
    # run 2: the late row falls in the already-finalized window → dropped;
    # no new finalized windows are emitted.
    assert len(out2) == 0


def test_stream_static_join(spark):
    """Stream-static enrichment join (SURVEY §2.8)."""
    from gps_stream_processing_spark.streaming.runner import (
        events_stream,
        run_available_now,
    )
    from gps_stream_processing_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    static_dim = spark.createDataFrame(
        [("click", "interactive"), ("view", "passive"), ("purchase", "revenue")],
        "event_type string, kind string",
    )
    joined = (
        events_stream(spark, sf)
        .join(F.broadcast(static_dim), "event_type")
        .groupBy("kind")
        .agg(F.count("*").alias("n"))
    )
    out = run_available_now(joined, output_mode="complete").toPandas()
    e = load_table(spark, sf, "events").toPandas()
    expect = {
        "interactive": (e.event_type == "click").sum(),
        "passive": (e.event_type == "view").sum(),
        "revenue": (e.event_type == "purchase").sum(),
    }
    got = dict(zip(out["kind"], out["n"]))
    assert got == expect


def test_tumbling_stream_matches_batch(spark):
    from gps_stream_processing_spark.plans.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    stream_res = REGISTRY["q_stream_tumbling"].fn(spark, sf).toPandas()
    from gps_stream_processing_spark.sources.tables import load_table

    batch = (
        load_table(spark, sf, "events")
        .groupBy(F.date_trunc("day", "ts").alias("window_start"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .toPandas()
    )
    s = stream_res.sort_values(["window_start", "event_type"], ignore_index=True)
    b = batch.sort_values(["window_start", "event_type"], ignore_index=True)
    pd.testing.assert_frame_equal(s, b, check_dtype=False)


def test_true_streaming_sessions_subset_of_batch(spark):
    """Append-mode session windows: every emitted session must match the
    batch session_window result exactly; only trailing (still-open at
    stream end) sessions may be absent."""
    from gps_stream_processing_spark.plans.registry import REGISTRY, table

    sf = "/root/testdata/sf0.01"
    stream = REGISTRY["q_stream_session_true"].fn(spark, sf).collect()
    batch = (
        table(spark, sf, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("session_start"), "user_id", "n_events")
        .collect()
    )
    s = {(r.session_start, r.user_id, r.n_events) for r in stream}
    b = {(r.session_start, r.user_id, r.n_events) for r in batch}
    assert s, "stream must emit sessions"
    assert s.issubset(b)
    assert len(b - s) < 0.02 * len(b)  # only the trailing open tail missing


def test_events_stream_raises_on_non_utc_session(spark, tmp_path):
    """Streaming twin of the load_table UTC invariant: events_stream
    must raise RuntimeError on a non-UTC session instead of silently
    shifting watermarks (alive under `python -O`)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from gps_stream_processing_spark.streaming.runner import events_stream

    src = "/root/testdata/sf0.001/events.parquet"
    t = pq.read_schema(src).field("ts").type
    if pa.types.is_timestamp(t) and t.unit == "ns":
        pytest.skip("nanos-typed events fixture: the NTZ cast path is not taken")
    shutil.copy(src, tmp_path / "events.parquet")
    sib = spark.newSession()
    sib.conf.set("spark.sql.session.timeZone", "America/New_York")
    with pytest.raises(RuntimeError, match="timeZone=UTC"):
        events_stream(sib, str(tmp_path))


def test_events_readers_need_the_session_nanos_conf(spark, tmp_path):
    """``spark.sql.legacy.parquet.nanosAsLong`` is a session conf
    (``SESSION_CONF``): ``load_table('events')`` and ``events_stream``
    leave the caller's session as they found it, and raise on a session
    without it instead of setting it there."""
    import shutil

    from conftest import SF_SMALL

    from gps_stream_processing_spark.sources.tables import load_table
    from gps_stream_processing_spark.streaming.runner import events_stream

    key = "spark.sql.legacy.parquet.nanosAsLong"
    shutil.copy(f"{SF_SMALL}/events.parquet", tmp_path / "events.parquet")
    bare = spark.newSession()
    bare.conf.unset(key)
    with pytest.raises(RuntimeError, match=key):
        load_table(bare, str(tmp_path), "events")
    with pytest.raises(RuntimeError, match=key):
        events_stream(bare, str(tmp_path))
    assert bare.conf.get(key, None) != "true"
    assert spark.conf.get(key) == "true"


def test_run_available_now_leaves_no_sink_views(spark, stream_fixture_dir):
    """Session hygiene (VERDICT r6): the uuid memory-sink table is
    transient — run_available_now must materialize the result and drop
    the temp view before returning, so a long-lived session (bench
    loop, driver sweep) never accumulates driver-resident sink tables.
    The returned frame must survive the drop (eager checkpoint)."""
    from gps_stream_processing_spark.operators.gps_fix import parse_sentences
    from gps_stream_processing_spark.streaming.runner import run_available_now
    from gps_stream_processing_spark.streaming.stateful import (
        nmea_json_stream,
        streaming_fix_merge,
    )

    before = {t.name for t in spark.catalog.listTables()}
    parsed = parse_sentences(nmea_json_stream(spark, stream_fixture_dir))
    out = run_available_now(streaming_fix_merge(parsed), output_mode="update")
    after = {t.name for t in spark.catalog.listTables()}
    assert not {n for n in after - before if n.startswith("mem_")}
    # the frame is detached from the dropped view: still fully readable
    assert out.count() > 0


def test_protobuf_shim_rejects_squatter(tmp_path):
    """Shim trust model (ADVICE r6): _make_shim must reuse the
    deterministic path ONLY when it is our own 0700 directory whose
    google/protobuf is a symlink resolving to the vendor tree. A
    squatter's pre-created directory under the predictable name (the
    attack: world-writable /tmp, attacker plants a malicious
    google/protobuf before we run) must be rejected in favor of a
    fresh private mkdtemp dir."""
    import os
    import stat

    from gps_stream_processing_spark.streaming import protobuf_compat as pc

    vendor = tmp_path / "vendor"
    (vendor / "google" / "protobuf").mkdir(parents=True)
    (vendor / "google" / "protobuf" / "__init__.py").write_text("")

    # clean build: deterministic per-user path, 0700, correct symlink
    shim1 = pc._make_shim(str(vendor))
    st = os.lstat(shim1)
    assert st.st_uid == os.getuid() and not st.st_mode & 0o077
    link = os.path.join(shim1, "google", "protobuf")
    assert os.path.islink(link)
    assert os.path.realpath(link) == os.path.realpath(
        str(vendor / "google" / "protobuf")
    )
    # verified reuse: same path on the second call
    assert pc._make_shim(str(vendor)) == shim1

    # squatter: replace the symlink with a planted directory → the
    # deterministic path must fail verification and a fresh private
    # dir must be used instead
    os.remove(link)
    (tmp_path / "evil" / "protobuf").mkdir(parents=True)
    os.symlink(str(tmp_path / "evil" / "protobuf"), link)
    shim2 = pc._make_shim(str(vendor))
    assert shim2 != shim1
    st2 = os.lstat(shim2)
    assert st2.st_uid == os.getuid() and not st2.st_mode & 0o077
    link2 = os.path.join(shim2, "google", "protobuf")
    assert os.path.realpath(link2) == os.path.realpath(
        str(vendor / "google" / "protobuf")
    )

    # a loose-mode dir under the name is equally untrusted
    os.chmod(shim1, stat.S_IRWXU | stat.S_IRWXG | stat.S_IRWXO)
    assert pc._make_shim(str(vendor)) != shim1


def test_stream_dedup_watermark_collapses_real_duplicates(spark, tmp_path):
    """The registry fixture has unique event_ids, so the registered
    q_stream_dedup_watermark oracle passes vacuously there — this test
    feeds the SAME plan a stream with INJECTED duplicate event_ids
    (each duplicate arriving within the watermark delay, the
    at-least-once-producer retry shape the API exists for) and asserts
    they collapse to the distinct set."""
    import pandas as pd

    from gps_stream_processing_spark.streaming.runner import run_available_now
    from pyspark.sql import functions as F

    base = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 5],
            "ts": pd.date_range("2024-01-01 00:00:00", periods=5, freq="min"),
            "event_type": ["view", "click", "view", "purchase", "view"],
        }
    )
    dup = base.iloc[[0, 2, 4]].copy()  # producer retries, slightly later
    dup["ts"] = dup["ts"] + pd.Timedelta(seconds=30)
    # micros, not pandas-default nanos: the stream schema says TIMESTAMP
    pd.concat([base, dup]).astype({"ts": "datetime64[us]"}).to_parquet(
        tmp_path / "events.parquet", index=False
    )

    raw = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .parquet(str(tmp_path))
    )
    dedup = (
        raw.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )
    out = run_available_now(dedup, output_mode="complete", state_partitions=2)
    got = {r.event_type: r.n_unique for r in out.collect()}
    assert got == {"view": 3, "click": 1, "purchase": 1}


def test_run_available_now_cleans_up_on_failure(spark, tmp_path):
    """Hygiene must hold on the FAILURE path too (r7 review finding):
    a stream that dies after start() has already registered its memory
    sink — the finally-based cleanup drops it, so a failing key
    re-run by the bench adjudication loop cannot accumulate views."""
    import pandas as pd
    import pytest as _pytest
    from pyspark.sql import functions as F

    from gps_stream_processing_spark.streaming.runner import run_available_now

    pd.DataFrame(
        {"event_id": [1, 2], "ts": pd.date_range("2024-01-01", periods=2, freq="min")}
    ).astype({"ts": "datetime64[us]"}).to_parquet(
        tmp_path / "events.parquet", index=False
    )
    raw = spark.readStream.schema("event_id long, ts timestamp").parquet(
        str(tmp_path)
    )
    # ANSI mode: integer division by zero throws at execution time
    bad = raw.withColumn("boom", F.expr("event_id div 0"))
    stream_keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
    )
    confs_before = {k: spark.conf.get(k, None) for k in stream_keys}
    before = {t.name for t in spark.catalog.listTables()}
    with _pytest.raises(Exception):
        run_available_now(bad, output_mode="append", state_partitions=2)
    after = {t.name for t in spark.catalog.listTables()}
    assert not {n for n in after - before if n.startswith("mem_")}
    # the stream's confs are back to their pre-run values too
    assert {k: spark.conf.get(k, None) for k in stream_keys} == confs_before


def test_custom_stream_source_multibatch_exactly_once(spark):
    """The custom Python streaming source must deliver every generated
    row exactly once ACROSS multiple micro-batches: 60s of 2 tracks at
    15s per poll → 4 batches with data (pinned via recentProgress),
    union == the generator's rows, no loss, no dups."""
    from pyspark.sql import functions as F

    from gps_stream_processing_spark.sources.nmea import generate_track_rows
    from gps_stream_processing_spark.sources.nmea_datasource import (
        register_nmea_datasource,
    )

    register_nmea_datasource(spark)
    raw = (
        spark.readStream.format("nmea_synth")
        .option("n_tracks", 2)
        .option("n_seconds", 60)
        .option("seconds_per_batch", 15)
        .load()
    )
    q = (
        raw.writeStream.format("memory")
        .queryName("css_probe")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    got = spark.table("css_probe").collect()
    spark.catalog.dropTempView("css_probe")
    with_data = [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(with_data) == 4, with_data  # 60s / 15s-per-poll
    expected = set()
    for t in (0, 1):
        expected |= set(generate_track_rows(t, n_seconds=60, seed=42))
    assert {(r.line_no, r.track_id, r.value) for r in got} == expected
    assert len(got) == len(expected)  # exactly once: no dup rows either


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (absent here)",
)
def test_list_state_ttl_evicts_across_runs(spark, tmp_path):
    """ListState TTL actually EVICTS: two runs over one durable
    checkpoint with a 500 ms TTL and a >TTL pause between them. Run 1
    seeds user 7's list from file A; run 2 (file B only — the source
    checkpoint remembers A) reads the list back through the TTL filter,
    so the A entries are gone and the emitted summary counts ONLY B.
    A no-TTL control over the same two files keeps all entries —
    pinning that the eviction came from the TTL, not the restart."""
    import json as _json
    import time

    from pyspark.sql import types as T

    from gps_stream_processing_spark.streaming.runner import rocksdb_state_store
    from gps_stream_processing_spark.streaming.stateful import (
        RECENT_K_OUTPUT_SCHEMA,
        make_recent_k_processor,
    )

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def write_file(d, name, rows):
        p = d / name
        tmp = d / (name + ".tmp")
        with open(tmp, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        tmp.rename(p)

    file_a = [
        {"user_id": 7, "event_id": i, "ts": f"2024-01-01T00:00:0{i}", "value": 1.0}
        for i in range(3)
    ]
    file_b = [
        {"user_id": 7, "event_id": 10 + i, "ts": f"2024-01-01T00:01:0{i}", "value": 100.0}
        for i in range(2)
    ]

    def drive(src_dir, ckpt, ttl_ms):
        stream = (
            spark.readStream.schema(schema).json(str(src_dir))
            .groupBy("user_id")
            .transformWithStateInPandas(
                make_recent_k_processor(k=5, ttl_ms=ttl_ms),
                outputStructType=RECENT_K_OUTPUT_SCHEMA,
                outputMode="Update",
                timeMode="ProcessingTime",
            )
        )
        # foreachBatch sink: the memory sink cannot RESUME from a
        # checkpoint ("does not support recovering"), and resuming is
        # the whole point of this test. foreachBatch runs on the
        # driver, so collecting into a closure list is sound.
        outputs = []
        q = (
            stream.writeStream.foreachBatch(
                lambda bdf, bid: outputs.append(bdf.toPandas())
            )
            .outputMode("update")
            .option("checkpointLocation", str(ckpt))
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            data_batch = None
            while True:
                if q.exception() is not None:
                    raise q.exception()
                for p in q.recentProgress:
                    if p["numInputRows"] > 0:
                        data_batch = max(data_batch or 0, p["batchId"])
                last = q.lastProgress
                if data_batch is not None and last and last["batchId"] > data_batch:
                    break
                assert time.time() < deadline, "data batch did not drain"
                time.sleep(0.2)
            q.stop()
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
        import pandas as _pd

        return _pd.concat([o for o in outputs if len(o)], ignore_index=True)

    with rocksdb_state_store(spark):
        for ttl_ms, expect_n, expect_sum in ((500, 2, 200.0), (None, 5, 203.0)):
            src = tmp_path / f"src_{ttl_ms}"
            src.mkdir()
            ckpt = tmp_path / f"ckpt_{ttl_ms}"
            write_file(src, "a.jsonl", file_a)
            out1 = drive(src, ckpt, ttl_ms)
            assert out1.loc[out1.user_id == 7, "n_recent"].iloc[-1] == 3
            time.sleep(2.0)  # > TTL; state written at run-1 commit expires
            write_file(src, "b.jsonl", file_b)
            out2 = drive(src, ckpt, ttl_ms)
            row = out2.loc[out2.user_id == 7].iloc[-1]
            assert row["n_recent"] == expect_n, (ttl_ms, row.to_dict())
            assert row["sum_recent_value"] == expect_sum


def test_tws_init_state_seeds_history(spark):
    """The seeded totals must cover the FULL history (seed + live), not
    just the live slice — and seed-only users must not emit (update
    mode emits touched keys only)."""
    sf = "/root/testdata/sf0.001"
    from gps_stream_processing_spark.plans.registry import REGISTRY, table

    out = REGISTRY["q_stream_tws_init_state"].fn(spark, sf).toPandas()
    ev = table(spark, sf, "events")
    cutoff = "2024-01-15 00:00:00"
    full = {
        r["user_id"]: (r["n"], r["s"])
        for r in ev.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("s"))
        .collect()
    }
    live_users = {
        r["user_id"]
        for r in ev.filter(F.col("ts") >= cutoff)
        .select("user_id")
        .distinct()
        .collect()
    }
    live_only = {
        r["user_id"]: r["n"]
        for r in ev.filter(F.col("ts") >= cutoff)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert set(out["user_id"]) == live_users
    for _, row in out.iterrows():
        n, s = full[row["user_id"]]
        assert row["n_events"] == n  # full history, not live-only
        assert abs(row["sum_value"] - s) < 1e-6
    # the seed is load-bearing: at least one user's full count exceeds
    # the live-only count (otherwise this test proves nothing)
    assert any(
        full[u][0] > live_only.get(u, 0) for u in live_users
    ), "fixture has no pre-cutoff history for any live user"


def test_stream_full_outer_join_emits_both_sides(spark):
    """Structural contract of the FULL outer interval join: matched
    pairs equal the batch inner join, AND both sides' evicted-unmatched
    rows appear null-padded (views missing clicks and clicks missing
    views) — the property that distinguishes fullOuter from the left
    twin. Value-level parity is the oracle test's job."""
    from gps_stream_processing_spark.plans.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    out = REGISTRY["q_stream_stream_full_join"].fn(spark, sf).toPandas()
    matched = out[out["view_id"].notna() & out["click_id"].notna()]
    orphan_views = out[out["click_id"].isna() & out["view_id"].notna()]
    orphan_clicks = out[out["view_id"].isna() & out["click_id"].notna()]
    assert len(matched) > 0
    assert len(orphan_views) > 0, "no evicted unmatched views emitted"
    assert len(orphan_clicks) > 0, "no evicted unmatched clicks emitted"
    # matched set == batch inner interval join
    from gps_stream_processing_spark.plans.registry import table as _table
    from pyspark.sql import functions as F

    e = _table(spark, sf, "events")
    v = e.filter("event_type = 'view'").selectExpr(
        "event_id view_id", "user_id", "ts view_ts"
    )
    c = e.filter("event_type = 'click'").selectExpr(
        "event_id click_id", "user_id cuid", "ts click_ts"
    )
    n_inner = v.join(
        c,
        F.expr(
            "user_id = cuid AND click_ts >= view_ts "
            "AND click_ts <= view_ts + INTERVAL 12 HOURS"
        ),
    ).count()
    assert len(matched) == n_inner
    # every orphan's lag is null; no row is null on both sides
    assert out[["view_id", "click_id"]].isna().all(axis=1).sum() == 0


def test_jsonl_stream_sink_replay_is_exactly_once(tmp_path):
    """The _commits/<batchId> marker makes a replayed micro-batch a
    no-op: same batchId committed twice publishes once and cleans the
    duplicate temps — the at-least-once → exactly-once conversion."""
    import os

    from pyspark.sql import Row

    from gps_stream_processing_spark.sources.nmea_datasource import (
        JsonlLandStreamWriter,
    )

    p = str(tmp_path / "ssink")
    w = JsonlLandStreamWriter({"path": p})
    rows = [Row(a=1), Row(a=2)]
    m = w.write(iter(rows))
    w.commit([m], batchId=0)
    published = [f for f in os.listdir(p) if f.endswith(".jsonl")]
    assert len(published) == 1 and published[0].startswith("batch-0-")
    # checkpoint recovery re-delivers batch 0: new temps, same batchId
    m2 = w.write(iter(rows))
    w.commit([m2], batchId=0)
    after = sorted(f for f in os.listdir(p) if f.endswith(".jsonl"))
    assert after == sorted(published), "replayed batch double-published"
    assert not [f for f in os.listdir(p) if f.endswith(".tmp")]
    # a NEW batch publishes normally
    m3 = w.write(iter(rows))
    w.commit([m3], batchId=1)
    assert any(f.startswith("batch-1-") for f in os.listdir(p))


def test_jsonl_stream_sink_crash_in_commit_window_no_duplicates(tmp_path):
    """ADVICE r9 (medium): a driver crash AFTER some task-file renames
    but BEFORE the marker write must not duplicate rows on replay.
    Publish names derive from (batchId, task index), so the replayed
    commit overwrites the partial attempt instead of adding to it."""
    import json
    import os

    from pyspark.sql import Row

    from gps_stream_processing_spark.sources.nmea_datasource import (
        JsonlLandStreamWriter,
    )

    p = str(tmp_path / "ssink")
    w = JsonlLandStreamWriter({"path": p})
    # attempt 1: two tasks; simulate the crash by hand-publishing ONE
    # file the way the old non-idempotent protocol would have (renamed,
    # marker never written)
    m_a = w.write(iter([Row(a=1)]))
    m_b = w.write(iter([Row(a=2)]))
    os.replace(
        os.path.join(p, m_a.tmp_name),
        os.path.join(p, "batch-0-part-00000.jsonl"),
    )
    # ...and one orphan from a hypothetical wider attempt
    with open(os.path.join(p, "batch-0-part-00007.jsonl"), "w") as fh:
        fh.write(json.dumps({"a": 99}) + "\n")
    os.remove(os.path.join(p, m_b.tmp_name))
    assert not os.path.exists(os.path.join(p, "_commits", "0"))
    # replay: checkpoint recovery re-runs batch 0 end-to-end
    m1 = w.write(iter([Row(a=1)]))
    m2 = w.write(iter([Row(a=2)]))
    w.commit([m1, m2], batchId=0)
    published = sorted(f for f in os.listdir(p) if f.endswith(".jsonl"))
    assert published == ["batch-0-part-00000.jsonl", "batch-0-part-00001.jsonl"]
    vals = []
    for f in published:
        with open(os.path.join(p, f)) as fh:
            vals += [json.loads(line)["a"] for line in fh]
    assert sorted(vals) == [1, 2], "commit-window crash duplicated rows"
    assert os.path.exists(os.path.join(p, "_commits", "0"))
    # a second replay AFTER the marker is a pure no-op
    m3 = w.write(iter([Row(a=1)]))
    w.commit([m3], batchId=0)
    assert sorted(f for f in os.listdir(p) if f.endswith(".jsonl")) == published
    assert not [f for f in os.listdir(p) if f.endswith(".tmp")]


def test_stream_resume_processes_only_delta(spark, tmp_path):
    """Checkpoint-resume pin (q_stream_resume's mechanics): run 2 with
    the SAME checkpoint must read ONLY files that arrived after run 1 —
    the file-source offset log is the exactly-once bookkeeping."""
    import os

    inc = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    seen: list[tuple[int, int]] = []  # (batchId, n_rows) — driver-side

    def drive():
        q = (
            spark.readStream.schema("id long")
            .parquet(inc)
            .writeStream.foreachBatch(
                lambda b, i: seen.append((i, b.count()))
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.range(100).coalesce(1).write.mode("append").parquet(inc)
    drive()
    assert sum(n for _, n in seen) == 100
    spark.range(100, 130).coalesce(1).write.mode("append").parquet(inc)
    drive()
    run2 = sum(n for _, n in seen) - 100
    assert run2 == 30, f"resume re-read old files (run2 saw {run2} rows)"
    # a third run with nothing new processes nothing
    before = len(seen)
    drive()
    assert sum(n for _, n in seen[before:]) == 0


def test_stream_upsert_sink_merges_across_batches(spark, tmp_path):
    """Multi-batch upsert contract: a later batch REPLACES matched keys
    and inserts new ones; untouched keys survive. Driven through a real
    update-mode stream over two file arrivals (the q_stream_resume
    mechanics) into the same merge logic shape."""
    import os

    from gps_stream_processing_spark.streaming.runner import (
        make_latest_upsert,
    )

    inc = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    serving = str(tmp_path / "serving")
    # the SHARED serving-upsert body (what q_stream_upsert_sink and
    # q_stream_tws_forecast run) — this test pins its multi-batch
    # replace/insert/survive contract
    upsert = make_latest_upsert(spark, serving, "k")

    def drive():
        q = (
            spark.readStream.schema("k string, v long")
            .parquet(inc)
            .groupBy("k")
            .agg({"v": "sum"})
            .withColumnRenamed("sum(v)", "s")
            .writeStream.outputMode("update")
            .foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame([("A", 1), ("B", 2)], "k string, v long").coalesce(
        1
    ).write.mode("append").parquet(inc)
    drive()
    spark.createDataFrame([("B", 3), ("C", 7)], "k string, v long").coalesce(
        1
    ).write.mode("append").parquet(inc)
    drive()  # resumes: batch 2 updates B (now 2+3=5) and inserts C
    got = {
        r.k: r.s for r in spark.read.parquet(serving).collect()
    }
    assert got == {"A": 1, "B": 5, "C": 7}, got


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (absent here)",
)
def test_rocksdb_state_store_scope_sets_and_restores_confs(spark):
    """r16 optimization pin: the rocksdb_state_store contextmanager
    (which replaced 12 copies of per-key provider boilerplate) must
    set BOTH the provider and changelog checkpointing inside the
    scope, and restore BOTH previous values on exit — including the
    unset-before case the old boilerplate handled for the provider
    only."""
    from gps_stream_processing_spark.streaming.runner import (
        rocksdb_state_store,
    )

    prov_key = "spark.sql.streaming.stateStore.providerClass"
    clog_key = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    # case 1: both previously unset -> unset again afterwards
    for k in (prov_key, clog_key):
        try:
            spark.conf.unset(k)
        except Exception:  # noqa: BLE001 — already unset
            pass
    with rocksdb_state_store(spark):
        assert "RocksDBStateStoreProvider" in spark.conf.get(prov_key)
        assert spark.conf.get(clog_key) == "true"
    assert spark.conf.get(prov_key, None) in (
        None,
        # Spark returns the built-in default for this key when unset
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider",
    )
    # case 2: pre-existing values -> restored verbatim
    spark.conf.set(prov_key, "com.example.FakeProvider")
    spark.conf.set(clog_key, "false")
    try:
        with rocksdb_state_store(spark):
            assert "RocksDBStateStoreProvider" in spark.conf.get(prov_key)
            assert spark.conf.get(clog_key) == "true"
        assert spark.conf.get(prov_key) == "com.example.FakeProvider"
        assert spark.conf.get(clog_key) == "false"
        # case 3: the body raises -> restored all the same
        with pytest.raises(RuntimeError, match="inside the scope"):
            with rocksdb_state_store(spark):
                raise RuntimeError("inside the scope")
        assert spark.conf.get(prov_key) == "com.example.FakeProvider"
        assert spark.conf.get(clog_key) == "false"
    finally:
        spark.conf.unset(prov_key)
        spark.conf.unset(clog_key)


def test_tws_state_partition_default_follows_core_budget(monkeypatch):
    """r16 optimization pin: the TWS state-partition width is 8
    capped at the host's core budget (floor 4 — the JVM-stateful
    width)."""
    from gps_stream_processing_spark.streaming import runner as R

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    assert R.tws_state_partitions() == 8
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert R.tws_state_partitions() == 4
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert R.tws_state_partitions() == 6


@pytest.mark.parametrize(
    "key",
    [
        "q_stream_upsert_sink",
        pytest.param(
            "q_stream_tws_forecast",
            marks=pytest.mark.skipif(
                not _has_protobuf(),
                reason="transformWithStateInPandas needs google.protobuf",
            ),
        ),
    ],
)
def test_foreach_batch_stateful_keys_unload_state_stores(spark, key):
    """The foreachBatch serving keys run stateful streams outside the
    memory-sink runners; they must still unload the idle state stores,
    or the store maintenance pool keeps running in the session after
    the query has ended."""
    from conftest import SF_SMALL

    from gps_stream_processing_spark.plans.registry import REGISTRY

    state_store = (
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore
    )
    assert REGISTRY[key].fn(spark, SF_SMALL).count() > 0
    assert not state_store.isMaintenanceRunning()


def test_conf_restores_and_worker_wiring_have_one_home():
    """One implementation each: a temporary conf override is undone only
    by ``session.scoped_conf`` (the one ``conf.unset``); a conf is set
    only where a session is built, tuned or scoped (``session.py``,
    ``registry.tune_session``), never left behind by a plan; the
    protobuf worker wiring runs only where a session is built or tuned,
    ahead of its first Python function wrap; and the worker daemon is
    chosen only where the SparkContext is built. The RocksDB scope and
    the TWS width are applied only by ``runner.run_tws``, and every
    query registers through the ``@register`` decorator, never a
    ``register(...)(fn)`` call."""
    import ast
    import pathlib

    import gps_stream_processing_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    unsets, sets, wirings, daemons = set(), set(), set(), set()
    tws_runs, call_registers = set(), set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for top in ast.parse(path.read_text()).body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Constant)
                    and node.value == "spark.python.daemon.module"
                ):
                    daemons.add((rel, owner))
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                on_conf = (
                    isinstance(f, ast.Attribute)
                    and isinstance(f.value, ast.Attribute)
                    and f.value.attr == "conf"
                )
                if on_conf and name == "unset":
                    unsets.add(rel)
                if on_conf and name == "set":
                    sets.add(rel)
                if name in ("ensure_protobuf", "configure_worker_env"):
                    if rel != "streaming/protobuf_compat.py":
                        wirings.add((rel, owner))
                if name in ("rocksdb_state_store", "tws_state_partitions"):
                    tws_runs.add((rel, owner))
                if isinstance(f, ast.Call) and getattr(f.func, "id", "") == "register":
                    call_registers.add((rel, owner))
    assert unsets == {"session.py"}, sorted(unsets)
    assert sets == {"session.py", "plans/registry.py"}, sorted(sets)
    assert wirings == {
        ("session.py", "get_spark"),
        ("plans/registry.py", "tune_session"),
    }, sorted(wirings)
    assert daemons == {("session.py", "get_spark")}, sorted(daemons)
    assert tws_runs == {("streaming/runner.py", "run_tws")}, sorted(tws_runs)
    assert not call_registers, sorted(call_registers)


def test_worker_rereads_no_unchanged_archive(spark):
    """PySpark calls ``importlib.invalidate_caches()`` at the start of
    every task. Before CPython 3.13 each cached zipimporter then re-read
    its whole archive directory (pyspark.zip, the spark-core jar): 135-
    196 ms a task. Under the engine's worker daemon an unchanged archive
    is not read again."""
    import sys

    def probe(_):
        import importlib
        import zipimport

        importlib.invalidate_caches()
        reads, read = [], zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        cache = sys.path_importer_cache.values()
        yield sum(isinstance(f, zipimport.zipimporter) for f in cache), reads

    rdd = spark.sparkContext.parallelize(range(2), 2)
    for n_zip, reads in rdd.mapPartitions(probe).collect():
        assert n_zip > 0  # the worker path does hold archives
        assert reads == []


def test_worker_daemon_rereads_an_archive_rewritten_in_place(tmp_path):
    """What invalidation must keep: a rewritten archive is read again,
    and its new module imports. The new archive has the old one's size
    and only a later mtime tells them apart."""
    import subprocess
    import sys

    script = r"""
import importlib, os, sys, zipfile
from gps_stream_processing_spark import worker_daemon

worker_daemon.install()
archive = sys.argv[1]

def write(name, value):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", f"VALUE = {value}\n")

write("zold", 1)
sys.path.insert(0, archive)
import zold
importlib.invalidate_caches()
st = os.stat(archive)
write("znew", 2)
os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
assert os.stat(archive).st_size == st.st_size
importlib.invalidate_caches()
import znew
print(zold.VALUE, znew.VALUE)
"""
    out = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "m.zip")],
        capture_output=True,
        text=True,
        timeout=60,
        env={**os.environ, "PYTHONPATH": _REPO_ROOT},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["1", "2"]


def test_get_spark_daemon_starts_outside_the_checkout(tmp_path):
    """The worker daemon starts wherever a worker does: a driver whose
    working directory is outside the checkout, and which finds the
    package only through ``sys.path``, runs a plain pandas UDF."""
    import subprocess
    import sys

    script = f"""
import sys
sys.path.insert(0, {_REPO_ROOT!r})
import pandas as pd
from pyspark.sql.functions import pandas_udf
from gps_stream_processing_spark.session import get_spark

spark = get_spark(app_name="daemon-probe", master="local[1]", shuffle_partitions=1)

@pandas_udf("long")
def plus_one(s: pd.Series) -> pd.Series:
    return s + 1

print(spark.sparkContext.getConf().get("spark.python.daemon.module"))
print(spark.range(3).select(plus_one("id")).toPandas().iloc[:, 0].tolist())
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "512m"
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.splitlines()[-2:] == [
        "gps_stream_processing_spark.worker_daemon",
        "[1, 2, 3]",
    ]


def test_file_stream_batch_lists_its_files_on_the_driver(spark, tmp_path):
    """A file-stream batch of more than 32 new files (Spark's discovery
    threshold) listed them with a Spark job of one task per file:
    416-579 ms of ``getBatch`` per live fix_stream_live batch. Under a
    local master the engine session lists them on the driver; a cluster
    master keeps Spark's 32."""
    from gps_stream_processing_spark.session import master_conf

    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    masters = ("local[4]", "local", "local-cluster[2,1,1024]", "yarn")
    assert [master_conf(m)[key] for m in masters] == [str(2**31 - 1)] * 2 + ["32"] * 2
    assert spark.conf.get(key) == str(2**31 - 1)
    src = tmp_path / "in"
    src.mkdir()
    for i in range(40):
        (src / f"f{i:02d}.json").write_text(f'{{"x": {i}}}\n')
    q = (
        spark.readStream.schema("x long")
        .json(str(src))
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    assert [p["numInputRows"] for p in q.recentProgress] == [40]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    store = spark.sparkContext._jsc.sc().statusStore()
    descriptions = [str(store.job(j).description()) for j in jobs]
    assert jobs, descriptions
    assert not [d for d in descriptions if "Listing leaf files" in d], descriptions


def test_state_store_provider_posture(spark, stream_fixture_dir, nmea_df):
    """Pins the state-backend posture both ways (SCALE.md knob table):

    (a) transformWithStateInPandas structurally REQUIRES RocksDB in
        Spark 4.1 — the HDFS-backed provider cannot create multiple
        column families — which is WHY every q_stream_tws_* key sets
        the provider explicitly rather than riding the default.
    (b) The applyInPandasWithState merge is provider-INDEPENDENT:
        byte-identical output under the default HDFS-backed provider
        and RocksDB, so flipping the production knob cannot move
        values (state layout is an implementation detail)."""
    import pandas as pd

    from gps_stream_processing_spark.operators.gps_fix import parse_sentences
    from gps_stream_processing_spark.streaming.runner import (
        events_stream,
        run_available_now,
    )
    from gps_stream_processing_spark.streaming.stateful import (
        nmea_json_stream,
        streaming_fix_merge,
        streaming_type_counts_tws,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    hdfs = (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    )
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    cols = ["track_id", "utc", "lat", "lon", "num_sat", "hdop", "speed_knots"]
    try:
        # (a) TWS under the HDFS provider must fail with the
        # column-families limitation, not silently degrade
        spark.conf.set(key, hdfs)
        with pytest.raises(Exception, match="MULTIPLE_COLUMN_FAMILIES"):
            run_available_now(
                streaming_type_counts_tws(
                    events_stream(spark, "/root/testdata/sf0.001")
                ),
                output_mode="update",
            )
        # (b) applyInPandasWithState: identical under both providers
        outs = {}
        for name, prov in (("hdfs", hdfs), ("rocksdb", rocks)):
            spark.conf.set(key, prov)
            parsed = parse_sentences(
                nmea_json_stream(spark, stream_fixture_dir)
            )
            outs[name] = (
                run_available_now(
                    streaming_fix_merge(parsed), output_mode="update"
                )
                .select(*cols)
                .toPandas()
                .sort_values(["track_id", "utc"], ignore_index=True)
            )
        pd.testing.assert_frame_equal(
            outs["hdfs"], outs["rocksdb"], check_dtype=False
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_late_drop_removes_exactly_the_late_row(spark):
    """q_stream_late_drop: the dropped-row SET is exactly the corpus's
    earliest event — the streaming result differs from the batch
    aggregate (same window filter, late row INCLUDED) in exactly that
    row's (window, type) group, by exactly (1 event, its cents)."""
    from gps_stream_processing_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    got = (
        REGISTRY["q_stream_late_drop"]
        .fn(spark, sf)
        .toPandas()
        .set_index(["window_start", "event_type"])
        .sort_index()
    )
    ev = spark.read.parquet(f"{sf}/events.parquet").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    late = ev.orderBy("ts", "event_id").first()
    wm_ms = ev.agg(
        (F.floor(F.unix_millis(F.max("ts")) / 1000) * 1000).alias("ms")
    ).first()["ms"]
    import pandas as pd

    wm = pd.Timestamp(wm_ms, unit="ms") - pd.Timedelta(minutes=10)
    full = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.expr("cast(round(value*100) as bigint)")) / 100.0, 2
            ).alias("sum_value"),
        )
        .toPandas()
    )
    full = (
        full[full["window_start"] + pd.Timedelta(hours=1) <= wm]
        .set_index(["window_start", "event_type"])
        .sort_index()
    )
    late_key = (
        pd.Timestamp(late["ts"]).floor("h"),
        late["event_type"],
    )
    # every group except the late row's matches the batch aggregate...
    got_others = got.drop(index=[late_key], errors="ignore")
    full_others = full.drop(index=[late_key], errors="ignore")
    pd.testing.assert_frame_equal(got_others, full_others, check_dtype=False)
    # ...and the late group differs by exactly the one dropped event
    assert late_key in full.index
    full_n = full.loc[late_key, "n_events"]
    got_n = got.loc[late_key, "n_events"] if late_key in got.index else 0
    assert full_n - got_n == 1


def test_join_then_window_has_two_state_operators(spark, tmp_path):
    """q_stream_join_then_window really runs TWO chained stateful
    operators in one query — pinned via the state-metadata source on
    a checkpointed drive (the q_state_metadata surface): a symmetric
    hash join feeding a stateStoreSave aggregation."""
    from gps_stream_processing_spark.streaming.runner import events_stream

    sf = "/root/testdata/sf0.001"
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
    agg = (
        views.join(
            clicks,
            F.expr(
                "user_id = click_user_id AND click_ts >= view_ts "
                "AND click_ts <= view_ts + INTERVAL 12 HOURS"
            ),
        )
        .groupBy(F.window("click_ts", "1 day").alias("win"))
        .agg(F.count("*").alias("n_pairs"))
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        agg.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    meta = (
        spark.read.format("state-metadata")
        .load(ckpt)
        .select("operatorId", "operatorName")
        .collect()  # 2 rows — one per stateful operator
    )
    ops = {r["operatorId"]: r["operatorName"] for r in meta}
    assert len(ops) == 2
    names = set(ops.values())
    assert any("symmetricHashJoin" in n for n in names), names
    assert any("stateStoreSave" in n for n in names), names


def test_tws_timer_list_fire_set_and_eviction_split(spark):
    """q_stream_tws_timer_list invariants replicated in batch: the
    fire set is exactly {user: last_ms + gap < global_max_ms - delay},
    kept + evicted = the user's total events, the kept sum is the
    exact-cents batch sum over the retention window, and n_kept >= 1
    always (retention 60 min > gap 30 min, so the firing user's last
    event is inside its own window)."""
    from pyspark.sql import functions as F

    from gps_stream_processing_spark.plans import REGISTRY
    from gps_stream_processing_spark.plans.registry import table

    sf = "/root/testdata/sf0.001"
    got = {
        int(r.user_id): (int(r.n_kept), int(r.n_evicted), int(r.sum_kept_cents))
        for r in REGISTRY["q_stream_tws_timer_list"].fn(spark, sf).toPandas().itertuples()
    }
    e = table(spark, sf, "events").select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.expr("cast(round(value * 100) as bigint)").alias("cents"),
    ).toPandas()
    wm = int(e["ms"].max()) - 600_000
    want = {}
    for uid, g in e.groupby("user_id"):
        expiry = int(g["ms"].max()) + 1_800_000
        if not expiry < wm:
            continue
        kept = g[g["ms"] >= expiry - 3_600_000]
        want[int(uid)] = (
            len(kept),
            len(g) - len(kept),
            int(kept["cents"].sum()),
        )
    assert got == want and len(got) > 0
    assert all(k >= 1 for k, _, _ in got.values())


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (absent here)",
)
def test_tws_ewma_equals_batch_fold(spark):
    """The O(1)-state streaming smoother must be BIT-identical to the
    batch q_ewma per user (same IEEE fold, availableNow one-batch
    replay) — the equivalence that lets the batch key's docstring point
    unbounded keys here (VERDICT r14 item 1)."""
    sf = "/root/testdata/sf0.001"
    from gps_stream_processing_spark.plans.registry import REGISTRY

    got = {
        int(r["user_id"]): (int(r["n_events"]), float(r["ewma"]))
        for r in REGISTRY["q_stream_tws_ewma"].fn(spark, sf).toPandas().to_dict("records")
    }
    want = {
        int(r["user_id"]): (int(r["n_events"]), float(r["ewma"]))
        for r in REGISTRY["q_ewma"].fn(spark, sf).toPandas().to_dict("records")
    }
    assert got == want and len(got) > 0  # == on floats: bitwise claim


def test_smoother_bounded_history_tripwire(spark):
    """q_ewma/q_holt_linear enforce their bounded-per-key-sequence
    contract: a key past SMOOTHER_MAX_EVENTS_PER_KEY fails LOUDLY via
    assert_true instead of silently building a multi-GB aggregation
    buffer (VERDICT r14 item 3). Exercised by temporarily lowering the
    cap — the guard reads the module constant at plan-build time."""
    import gps_stream_processing_spark.plans.relational as rel
    from gps_stream_processing_spark.plans.registry import REGISTRY

    sf = "/root/testdata/sf0.001"
    prev = rel.SMOOTHER_MAX_EVENTS_PER_KEY
    rel.SMOOTHER_MAX_EVENTS_PER_KEY = 3  # every fixture user exceeds this
    try:
        for key in ("q_ewma", "q_holt_linear"):
            with pytest.raises(Exception, match="bounded-per-key-sequence"):
                REGISTRY[key].fn(spark, sf).collect()
    finally:
        rel.SMOOTHER_MAX_EVENTS_PER_KEY = prev
    # and back in contract: both run clean at the real cap
    assert REGISTRY["q_ewma"].fn(spark, sf).count() > 0


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (absent here)",
)
def test_tws_holt_equals_batch_fold(spark):
    """The (l, b) streaming smoother must be BIT-identical to the
    batch q_holt_linear per user — the sibling equivalence to
    test_tws_ewma_equals_batch_fold, closing the streaming-twin story
    for both collect-then-fold smoothers."""
    sf = "/root/testdata/sf0.001"
    from gps_stream_processing_spark.plans.registry import REGISTRY

    def as_map(df):
        return {
            int(r["user_id"]): (
                int(r["n_events"]),
                float(r["level"]),
                float(r["trend"]),
                float(r["forecast_7"]),
            )
            for r in df.toPandas().to_dict("records")
        }

    got = as_map(REGISTRY["q_stream_tws_holt"].fn(spark, sf))
    want = as_map(REGISTRY["q_holt_linear"].fn(spark, sf))
    assert got == want and len(got) > 0  # == on floats: bitwise claim


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (absent here)",
)
def test_tws_holt_winters_equals_batch_fold(spark):
    """The seasonal streaming smoother must be BIT-identical to the
    batch q_holt_winters per event_type — the equivalence completing
    the streaming-twin story for the whole smoother family (VERDICT
    r15 item 3): same day grid, same seed, same flat 9-list fold."""
    sf = "/root/testdata/sf0.001"
    from gps_stream_processing_spark.plans.registry import REGISTRY

    def as_map(df):
        return {
            r["event_type"]: (
                int(r["n_days"]),
                float(r["level"]),
                float(r["trend"]),
                float(r["forecast_1"]),
                float(r["forecast_7"]),
            )
            for r in df.toPandas().to_dict("records")
        }

    got = as_map(REGISTRY["q_stream_tws_holt_winters"].fn(spark, sf))
    want = as_map(REGISTRY["q_holt_winters"].fn(spark, sf))
    assert got == want and len(got) > 0  # == on floats: bitwise claim


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (absent here)",
)
def test_tws_holt_winters_day_split_across_batches(spark, tmp_path):
    """The mechanism the seasonal twin adds over the EWMA/Holt twins —
    the trailing OPEN day held as an exact integer total in state and
    folded only VIRTUALLY at emission — must make a day whose rows
    split across micro-batches fold exactly once with its full total.
    Two mtime-ordered files under maxFilesPerTrigger=1: file 1 ends
    with a PARTIAL day 9, file 2 delivers the rest of day 9 plus day
    10. The final emission must equal the batch fold over the union;
    a naive close-per-batch would have folded day 9 twice (once
    truncated)."""
    import os
    import time

    from pyspark.sql import functions as F

    from gps_stream_processing_spark.plans.relational import (
        holt_winters_daily,
    )
    from gps_stream_processing_spark.streaming.runner import (
        run_available_now,
    )
    from gps_stream_processing_spark.streaming.stateful import (
        streaming_holt_winters_tws,
    )

    d = str(tmp_path / "ev")
    rows1 = [
        ("a", f"2024-01-{day:02d} 12:00:00", float(day) * 1.37 + 0.11)
        for day in range(1, 9)
    ] + [("a", "2024-01-09 08:00:00", 3.25)]  # day 9, first half
    rows2 = [
        ("a", "2024-01-09 16:00:00", 4.75),  # day 9, second half
        ("a", "2024-01-10 12:00:00", 9.49),
    ]

    def write_one(rows, fname, mtime):
        df = spark.createDataFrame(
            rows, "event_type string, ts_s string, value double"
        ).select("event_type", F.to_timestamp("ts_s").alias("ts"), "value")
        tmp = str(tmp_path / ("stage_" + fname))
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            p for p in os.listdir(tmp) if p.endswith(".parquet")
        )
        os.makedirs(d, exist_ok=True)
        dst = os.path.join(d, fname)
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))

    now = time.time()
    write_one(rows1, "f1.parquet", now - 120)
    write_one(rows2, "f2.parquet", now - 60)

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        ev = (
            spark.readStream.schema("event_type string, ts timestamp, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        out = run_available_now(
            streaming_holt_winters_tws(ev), output_mode="update"
        ).toPandas()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)

    # two batches ran: one emission per batch, n_days 9 then 10
    assert sorted(out["n_days"]) == [9, 10]
    final = out[out["n_days"] == 10].iloc[0]
    batch = (
        holt_winters_daily(spark.read.parquet(d))
        .select("n_days", "level", "trend", "forecast_1", "forecast_7")
        .toPandas()
        .iloc[0]
    )
    # raw emission vs rounded batch plan: compare at the plan's output
    # grain (round 6) — the underlying doubles are the same fold
    assert int(final["n_days"]) == int(batch["n_days"]) == 10
    assert round(float(final["level"]), 6) == float(batch["level"])
    assert round(float(final["trend"]), 6) == float(batch["trend"])
    f1 = float(final["level"]) + 1.0 * float(final["trend"]) + float(final["s_next"])
    f7 = float(final["level"]) + 7.0 * float(final["trend"]) + float(final["s_last"])
    assert round(f1, 6) == float(batch["forecast_1"])
    assert round(f7, 6) == float(batch["forecast_7"])


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (absent here)",
)
def test_tws_forecast_serving_latest_wins_across_batches(spark, tmp_path):
    """The composed forecast-serving key's defining property: after a
    multi-batch replay, the serving table holds each user's LATEST
    smoother state — i.e. exactly the batch fold over ALL rows — with
    the upsert's existing-table merge path actually exercised (two
    mtime-ordered files under maxFilesPerTrigger=1; both batches carry
    both users, so batch 2 REPLACES batch-1 serving rows rather than
    just appending)."""
    import os
    import time

    from pyspark.sql import functions as F

    from gps_stream_processing_spark.streaming.runner import (
        make_latest_upsert,
    )
    from gps_stream_processing_spark.streaming.stateful import (
        streaming_holt_tws,
    )

    d = str(tmp_path / "ev")
    rows1 = [
        (u, f"2024-01-01 10:00:{i:02d}", i, float(u) + i * 0.5)
        for u in (1, 2)
        for i in range(4)
    ]
    rows2 = [
        (u, f"2024-01-01 11:00:{i:02d}", 100 + i, float(u) * 2 + i * 0.25)
        for u in (1, 2)
        for i in range(3)
    ]

    def write_one(rows, fname, mtime):
        df = spark.createDataFrame(
            rows,
            "user_id bigint, ts_s string, event_id bigint, value double",
        ).select(
            "user_id", F.to_timestamp("ts_s").alias("ts"), "event_id", "value"
        )
        tmp = str(tmp_path / ("stage_" + fname))
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.makedirs(d, exist_ok=True)
        dst = os.path.join(d, fname)
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))

    now = time.time()
    write_one(rows1, "f1.parquet", now - 120)
    write_one(rows2, "f2.parquet", now - 60)

    serving = str(tmp_path / "serving")
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        ev = (
            spark.readStream.schema(
                "user_id bigint, ts timestamp, event_id bigint, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        q = (
            streaming_holt_tws(ev)
            .writeStream.outputMode("update")
            .foreachBatch(make_latest_upsert(spark, serving, "user_id"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)

    srv = {
        int(r["user_id"]): (int(r["n_events"]), float(r["level"]), float(r["trend"]))
        for r in spark.read.parquet(serving).toPandas().to_dict("records")
    }
    # one row per user (latest wins, no batch-1 leftovers), n = 7 each
    assert sorted(srv) == [1, 2]
    assert all(v[0] == 7 for v in srv.values())
    # and the values are the batch fold over the UNION — replayed in
    # (ts, event_id) order with the exact plan literals
    for u in (1, 2):
        vals = [v for (uu, _, _, v) in sorted(
            rows1 + rows2, key=lambda r: (r[1], r[2])
        ) if uu == u]
        l, b = vals[0], 0.0
        for x in vals[1:]:
            nl = 0.3 * x + 0.7 * (l + b)
            b = 0.1 * ((0.3 * x + 0.7 * (l + b)) - l) + 0.9 * b
            l = nl
        assert srv[u] == (7, l, b)  # == on floats: bitwise claim


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (absent here)",
)
def test_tws_anomaly_equals_python_fold(spark):
    """The streaming EW anomaly detector must be BIT-identical to a
    plain Python fold over each user's (ts, event_id)-ordered values —
    flags scored pre-update (no lookahead), RiskMetrics variance with
    the old mean in the deviation, n >= 5 warm-up."""
    import math

    sf = "/root/testdata/sf0.001"
    from gps_stream_processing_spark.plans.registry import REGISTRY

    got = {
        int(r["user_id"]): (
            int(r["n_events"]),
            float(r["ew_mean"]),
            float(r["ew_var"]),
            int(r["n_anomalies"]),
        )
        for r in REGISTRY["q_stream_tws_anomaly"]
        .fn(spark, sf)
        .toPandas()
        .to_dict("records")
    }
    e = spark.read.parquet(f"{sf}/events.parquet").toPandas()
    n_checked = 0
    for uid, g in e.groupby("user_id"):
        vals = [
            float(v)
            for v in g.sort_values(["ts", "event_id"])["value"]
        ]
        n, m, v, na = 0, 0.0, 0.0, 0
        for x in vals:
            if n > 0:
                if n >= 5 and abs(x - m) > 3.0 * math.sqrt(v):
                    na += 1
                nm = m * 0.8 + x * 0.2
                v = v * 0.8 + (x - m) * (x - m) * 0.2
                m = nm
            else:
                m, v = x, 0.0
            n += 1
        r = got[int(uid)]
        assert r[0] == n
        assert r[1] == round(m, 6) + 0.0  # == on floats: bitwise claim
        assert r[2] == round(v, 6) + 0.0
        assert r[3] == na
        assert 0 <= na <= max(n - 5, 0)  # warm-up bound
        n_checked += 1
    assert n_checked > 0


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (absent here)",
)
def test_tws_anomaly_flags_injected_spike(spark, tmp_path):
    """Detector discrimination pin: a flat series with one injected
    10-sigma spike flags EXACTLY the spike (and possibly nothing
    else), never the flat rows — and a fully flat series flags
    nothing."""
    import os

    from pyspark.sql import functions as F

    from gps_stream_processing_spark.streaming.runner import (
        rocksdb_state_store,
        run_available_now,
    )
    from gps_stream_processing_spark.streaming.stateful import (
        streaming_ew_anomaly_tws,
    )

    rows = []
    # user 1: gentle noise then a huge spike at i=20
    for i in range(30):
        val = 100.0 + (0.5 if i % 2 else -0.5) + (500.0 if i == 20 else 0.0)
        rows.append((1, f"2024-01-01 10:00:{i:02d}", i, val))
    # user 2: perfectly flat — zero variance, zero deviations, no flags
    for i in range(30):
        rows.append((2, f"2024-01-01 10:00:{i:02d}", i, 42.0))
    d = str(tmp_path / "ev")
    spark.createDataFrame(
        rows, "user_id bigint, ts_s string, event_id bigint, value double"
    ).select(
        "user_id", F.to_timestamp("ts_s").alias("ts"), "event_id", "value"
    ).coalesce(1).write.parquet(d)

    with rocksdb_state_store(spark):
        ev = spark.readStream.schema(
            "user_id bigint, ts timestamp, event_id bigint, value double"
        ).parquet(d)
        out = run_available_now(
            streaming_ew_anomaly_tws(ev), output_mode="update"
        ).toPandas()
    res = {int(r["user_id"]): int(r["n_anomalies"]) for r in out.to_dict("records")}
    # the spike itself flags; the post-spike mean/var shock may flag a
    # couple of re-settling rows, but the detector must fire and the
    # flat user must stay silent
    assert res[1] >= 1
    assert res[1] <= 5  # not blanket-flagging the flat remainder
    assert res[2] == 0
