"""The cogrouped Arrow corner of the UDF 2x2 (VERDICT r13 item 4).

q_cogroup_asof (cogrouped pandas) measured ~0.5 ms of per-group pandas
DataFrame construction, which forced its 1-in-10 user slice.
q_cogroup_asof_arrow is the applyInArrow twin over ALL users — these
tests pin (a) semantic equality between the two paths on the same
slice, (b) the all-users wall-time win of the Arrow path (measured
~6.6x warm at sf0.1: 1.4 s vs 9.0 s over 15k users; asserted here at
sf0.01 with a deliberately loose 1.5x gate so scheduler noise cannot
flake the build while a real regression — Arrow meaningfully slower
than pandas — still fails), and (c) the Spark 4.1 input-pruning pitfall that makes
``.count()`` starve a cogrouped UDF of its value columns.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from gps_stream_processing_spark.plans import REGISTRY
from gps_stream_processing_spark.plans.curation import (
    COGROUP_ASOF_SCHEMA,
    _cogroup_reaction,
    _cogroup_reaction_arrow,
)
from gps_stream_processing_spark.plans.registry import table

from conftest import SF_ORACLE, SF_SMALL


def _sides(spark, sf, sliced: bool):
    ev = table(spark, sf, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    if sliced:
        ev = ev.filter(F.col("user_id") % 10 == 0)
    views = ev.filter(F.col("event_type") == "view").select("user_id", "us")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "us"
    )
    return views, clicks


def _pandas_path(views, clicks):
    return (
        views.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(_cogroup_reaction, schema=COGROUP_ASOF_SCHEMA)
    )


def _arrow_path(views, clicks):
    return (
        views.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInArrow(_cogroup_reaction_arrow, schema=COGROUP_ASOF_SCHEMA)
    )


def _as_map(pdf):
    return {
        int(r.user_id): (
            int(r.n_views),
            int(r.n_matched),
            float(r.median_lag_us),
        )
        for r in pdf.itertuples()
    }


def test_arrow_twin_matches_pandas_path(spark):
    """Same slice, both transports: identical (user, counts, exact-µs
    median) maps — searchsorted + np.median reproduce merge_asof +
    pd.median bit-for-bit on integer µs."""
    views, clicks = _sides(spark, SF_SMALL, sliced=True)
    got_p = _as_map(_pandas_path(views, clicks).toPandas())
    got_a = _as_map(_arrow_path(views, clicks).toPandas())
    assert got_p == got_a and len(got_p) > 0


def test_arrow_registry_key_matches_pandas_all_users(spark):
    """The registered all-users Arrow key equals the pandas path run
    over all users (the form q_cogroup_asof documents as too
    overhead-bound to register)."""
    views, clicks = _sides(spark, SF_SMALL, sliced=False)
    want = _as_map(_pandas_path(views, clicks).toPandas())
    got = _as_map(
        REGISTRY["q_cogroup_asof_arrow"].fn(spark, SF_SMALL).toPandas()
    )
    assert got == want and len(got) > 0


def test_arrow_beats_pandas_wall_time_all_users(spark):
    """The reason the key exists: per-group pandas construction costs
    ~0.5 ms and the Arrow path skips it. Warm both paths once, then
    assert the best-of-3 Arrow pass is not meaningfully slower
    (measured ~3-7x faster; the <= 1.5x gate only fails on a true
    inversion, not on noise — best-of-N makes a lone GC pause or CI
    load spike on either side unable to flake it; ADVICE r14)."""
    views, clicks = _sides(spark, SF_ORACLE, sliced=False)
    # warm: scans cached, python workers spawned on both transports
    _pandas_path(views, clicks).toPandas()
    _arrow_path(views, clicks).toPandas()

    def best_of(fn, n=3):
        best, rows = float("inf"), 0
        for _ in range(n):
            t0 = time.time()
            rows = len(fn(views, clicks).toPandas())
            best = min(best, time.time() - t0)
        return best, rows

    t_pandas, n_p = best_of(_pandas_path)
    t_arrow, n_a = best_of(_arrow_path)
    assert n_p == n_a > 0
    # 1.5x slack over best-of-3: the measured gap is 3-7x the other
    # way, so only a true inversion can cross it
    assert t_arrow <= 1.5 * t_pandas, (
        f"Arrow cogroup slower than pandas: {t_arrow:.3f}s vs "
        f"{t_pandas:.3f}s over {n_a} groups"
    )


def test_count_prunes_cogroup_input_columns(spark):
    """Spark 4.1 pitfall, pinned so a toolchain change is noticed: a
    bare .count() over a cogrouped UDF prunes the child value columns,
    so the UDF receives key-only frames (KeyError in the pandas path).
    The engine's consumers (driver toPandas, bench noop sink) keep the
    columns alive; this documents WHY count() is not used."""
    views, clicks = _sides(spark, SF_SMALL, sliced=True)
    df = _pandas_path(views, clicks)
    # Pin the PRUNED-COLUMN failure specifically: the worker raises
    # KeyError: 'us' (the value column count() pruned away), which the
    # PythonException message carries verbatim. A bare match="us" would
    # match almost any error ("because", "must", ...) — vacuous
    # (ADVICE r14, low).
    with pytest.raises(Exception, match=r"KeyError: 'us'"):
        df.count()
