"""Registry-wide physical-plan quality gate (SURVEY §4.2 discipline).

Explains EVERY registered query and asserts the scale invariants:

1. No row-at-a-time Python UDF (``BatchEvalPython``) anywhere except the
   declared UDTF escape hatch — Python in the hot path must cross the
   JVM boundary via Arrow (``ArrowEvalPython`` / ``MapInPandas`` /
   ``FlatMapGroupsInPandas``) or not at all.
2. No nested-loop / cartesian join except the declared baselines:
   - q_join_range: the deliberately-naive theta join kept as the
     contrast case for q_join_range_binned (the scale path);
   - q_join_cross: the cross-join operator itself;
   - q_sim_search / q_ann_lsh: a broadcast of O(1) rows (one query
     vector / 64 hyperplane rows) against the corpus — a "cross
     product" only in name; the small side is constant-size, so cost
     stays linear in the corpus.

New queries are covered automatically (the test iterates the registry);
adding an operator that silently plans a cartesian or a pickled Python
UDF fails CI until it is either fixed or explicitly justified here.
"""

from __future__ import annotations

import pytest

from gps_stream_processing_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"

# query key -> tokens allowed in its plan, with the why documented above
NESTED_LOOP_ALLOWED = {
    "q_join_range": "kept as the nested-loop contrast for the binned rewrite",
    "q_join_cross": "the cross-join operator itself",
    "q_sim_search": "1-row broadcast query vector",
    "q_ann_sq8": "two 1-row broadcasts: the per-dim min/max stats "
    "arrays and the quantized query vector (the q_sim_search shape); "
    "the scan side stays linear in the corpus",
    "q_cramers_v": "1-row crossings: the 35-cell contingency table "
    "meets its 1-row grand-total and chi2-fold aggregates (the "
    "q_chi_square bounded-materialization shape)",
    "q_brown_forsythe": "1-row x 1-row crossing: the k-row deviation "
    "moment table's grand-total aggregate meets its sorted-fold "
    "aggregate (the q_anova shape on |x - med_i|)",
    "q_anova": "1-row x 1-row crossing: the k-row moment table's "
    "grand-total aggregate meets its sorted-fold aggregate (the "
    "q_welch_ttest bounded-materialization shape)",
    "q_kruskal_wallis": "1-row x 1-row crossing: the k-group "
    "rank-sum fold meets the 1-row tie-correction aggregate (the "
    "q_mannwhitney shape)",
    "q_friedman": "two bounded crossings: the CALENDAR-bounded "
    "day-count grid meets the 1-row global type count (the "
    "complete-block gate), and the k-treatment rank-sum fold meets "
    "the 1-row tie-correction aggregate (the q_kruskal_wallis "
    "shape)",
    "q_ann_binary": "two 1-row broadcasts: the per-dim midrange "
    "array and the centered query vector (the q_ann_sq8 shape); the "
    "scan side is linear in the corpus at 16 bytes/vector of code",
    "q_ann_lsh": "constant 64-row broadcast hyperplane table",
    "q_ann_ivf": "constant-size broadcast centroid table (nearest-centroid "
    "assignment is O(k) per row, k fixed)",
    "q_ann_ivfsq": "the q_ann_ivf centroid broadcast plus the q_ann_sq8 "
    "1-row stats/query broadcasts — the composed index inherits both "
    "parents' declared constant-size crossings",
    "q_ann_pq": "two 1-row broadcasts: the ~8 KB codebook row "
    "(n_codes full-dim vectors) for encoding and the query+LUT row "
    "for the ADC scan (the q_ann_sq8 shape); the scan side stays "
    "linear in the corpus",
    "q_ann_ivfpq": "the q_ann_ivf centroid broadcast plus the "
    "q_ann_pq codebook/query+LUT 1-row broadcasts — the composed "
    "index inherits both parents' declared constant-size crossings",
    "q_chi_square": "1-row broadcast grand-total aggregate crossed "
    "onto the 35-cell contingency table — the q_tfidf shape; every "
    "input is aggregate-sized",
    "q_welch_ttest": "1-row broadcast grand-total moment aggregate "
    "crossed onto the 5-row per-segment table (the q_chi_square "
    "shape); the complement side is decimal subtraction, zero extra "
    "scans",
    "q_ks_test": "prefix-sum offset broadcast only (r16: the segment "
    "axis is pivoted into columns, so the former 5-row segment "
    "crossJoin and pooled-count broadcast are gone) — every crossing "
    "side is partition-count-sized",
    "q_mannwhitney": "1-row broadcast tie-correction aggregate "
    "crossed onto the 5-row rank-sum table",
    "q_two_proportion_z": "1-row broadcast grand-total aggregate "
    "crossed onto the 5-row converter table (the q_welch_ttest "
    "shape)",
    "q_jackknife_se": "1-row broadcast grand-total aggregate crossed "
    "onto the 16-row block-moment table (the q_welch_ttest shape)",
    "q_autocorr": "7-row broadcast lag table + 1-row totals/"
    "denominator aggregates crossed onto the |days|-row daily "
    "series — every input is aggregate-sized after the one corpus "
    "scan",
    "q_crosscorr": "15-row broadcast lag table + 1-row totals/"
    "denominator aggregates crossed onto the |days|-row daily pair "
    "series (the q_autocorr shape)",
    "q_survival_km": "1-row broadcast observation-count and "
    "max-timestamp aggregates crossed onto user/day-grid-sized "
    "tables",
    "q_hits": "1-row broadcast L2-norm aggregate crossed onto the "
    "node-sized score table, twice per round (the q_pagerank "
    "dangling-mass shape)",
    "q_theil_sen": "all-pairs slope join over the |days|-row DAY "
    "GRID (rn_b > rn_a is inherently a θ-join) — the calendar "
    "bounds the quadratic to aggregate-sized rows; never the fact",
    "q_kendall_tau": "all-pairs concordance join over the |days|-row "
    "DAY GRID (da < db is inherently a θ-join) — the q_theil_sen "
    "shape; the calendar bounds the quadratic, never the fact",
    "q_bootstrap_ci": "two 1-row broadcast rank-pick scalars (ci_lo/"
    "ci_hi) crossed onto the 1-row base aggregate (the q_funnel "
    "shape); every input is aggregate-sized",
    "q_mutual_information": "1-row broadcast grand-total crossed onto "
    "the <=35-cell contingency and its marginals, plus the three "
    "1-row MI/entropy aggregates crossed onto each other (the "
    "q_chi_square shape); every input is aggregate-sized",
    "q_trimmed_mean": "1-row broadcast row-count scalar crossed onto "
    "the value-domain-sized cumulative table (the q_weighted_median "
    "shape)",
    "q_wasserstein": "1-row broadcast (n_a, n_b) totals crossed onto "
    "the value-domain-sized cumulative table (the q_ks_test shape)",
    "q_seasonal_anomaly": "two 1-row broadcast median/MAD scalars "
    "crossed onto the residual table (the q_mad_outliers global-gate "
    "shape); the profile join is a <=168-cell broadcast equi-join",
    "q_max_concurrency": "1-row broadcast peak/count scalars crossed "
    "onto each other for the single output row (the q_funnel "
    "shape); every input is session-boundary-aggregate-sized",
    "q_cuped": "1-row broadcast midpoint-timestamp scalar crossed "
    "onto the fact scan for the pre/post split (the q_tfidf "
    "corpus-scalar shape)",
    "q_key_islands": "1-row broadcast island-count scalar crossed "
    "onto the island aggregate for the output annotation (the "
    "q_funnel shape)",
    "q_geofence": "3-row broadcast fence dim; a large fence set would switch "
    "to grid-cell binning (the range_join pattern)",
    "q_tpch_q22": "1-row broadcast global aggregate (the scalar-subquery "
    "threshold)",
    "q_funnel": "cross of three 1-row stage-count aggregates",
    "q_tfidf": "1-row broadcast corpus-size aggregate (N for the idf "
    "factor; replaces a driver-side count round-trip)",
    "q_pagerank": "1-row broadcast dangling-mass scalar folded into each "
    "round's rank update (was hidden behind the final localCheckpoint "
    "before; the join itself has always been this shape)",
    "q_bm25": "1-row broadcast corpus-stats aggregate (N and avgdl for "
    "the scoring formula — same pattern as q_tfidf)",
    "q_perplexity": "1-row broadcast corpus (N, V) aggregate for the "
    "add-one-smoothing denominator — same pattern as q_tfidf/q_bm25",
    "q_dq_checks": "cross of three 1-row rule-count aggregates (the "
    "q_funnel shape); the only data-sized joins are the scan rules' "
    "single pass and the broadcast-anti FK check",
    "q_hll_partitioned_sketch": "cross of two 1-row aggregates (merged "
    "sketch estimate x exact global count) — the q_funnel shape",
    "q_kll_quantile_sketch": "cross of two 1-row aggregates (merged "
    "sketch median x exact global band) — same shape as "
    "q_hll_partitioned_sketch",
    "q_pmi_bigrams": "1-row broadcast (nu, nb) corpus-totals aggregate "
    "for the PMI denominator — same pattern as q_tfidf/q_bm25",
    "q_kneser_ney": "1-row broadcast bigram-type total for the "
    "continuation-probability denominator — the q_pmi_bigrams shape",
    "q_sax": "1-row broadcast global-moments aggregate crossed onto "
    "the 16-row segment table (the q_tfidf shape); every input is "
    "calendar-bounded",
    "q_tpch_q11": "1-row broadcast (count, sum) global-threshold "
    "aggregate (the scalar-subquery shape, as in q_tpch_q22)",
    "q_zorder_layout": "1-row broadcast min/max binning-stats aggregate "
    "(on a lakehouse these come free from table column stats)",
    "q_hilbert_layout": "1-row broadcast min/max binning-stats aggregate "
    "— same shape as q_zorder_layout",
    "q_rrf_fusion": "1-row broadcast query-vector cross for the "
    "semantic ranking side (the q_tfidf 1-row-stats shape); the fusion "
    "join itself is a bounded 100-row x 100-row equi join",
    "q_mix_temperature": "1-row broadcast (z, n_total) corpus-totals "
    "aggregate for the temperature weights — the q_tfidf shape; the "
    "rates join back to the fact as a k-source broadcast equi join",
    "q_market_basket": "1-row broadcast n_orders aggregate for the "
    "lift denominator — the q_tfidf shape; the pair join itself is "
    "a basket-keyed equi join",
    "q_benford_digits": "1-row broadcast total-count aggregate for "
    "the observed-probability denominator — the q_tfidf shape over "
    "a 9-group digit table",
    "q_shard_assignment": "1-row broadcast total-tokens aggregate for "
    "the balance denominator, crossed onto a 16-row shard aggregate — "
    "the q_tfidf shape",
    "q_theta_sketch_setops": "crosses of 1-row sketch/exact aggregates "
    "(the purchase x view sketch pair and the set-op flags row) — the "
    "q_hll_partitioned_sketch shape; every input is aggregate-sized",
    "q_pareto_concentration": "1-row broadcast (n_users, tot) totals "
    "aggregate crossed onto the user-sized cumulative ranking — the "
    "q_vocab_coverage shape",
    "q_source_jsd": "|sources| x broadcast top-500-words grid cross — "
    "both sides constant-bounded (the distribution support must be "
    "densified so absent words contribute exact zeros); the corpus "
    "itself never crosses a nested loop",
}
# The session default is Arrow UDTF evaluation (spark.sql.execution.
# pythonUDTF.arrow.enabled, set by get_spark AND tune_session) —
# q_udtf_gsv plans as ArrowEvalPythonUDTF. One MEASURED exception:
# a UDTF's eval() is per-row Python under EITHER transport (Arrow
# mode changes serialization, not vectorization), so the policy's
# real rule is "pick the measured-faster transport", and for
# q_udtf_analyze's struct-arg one-tuple-per-row shape the pickle path
# is 3x faster (0.67s vs 2.04s warm at sf0.1, r12 — Arrow pays
# per-batch struct assembly + pandas conversion with nothing to
# vectorize). Scalar expressions remain zero-row-Python everywhere.
ROW_PYTHON_ALLOWED: dict[str, str] = {
    "q_udtf_analyze": "pickle-evaluated analyze() UDTF — measured 3x "
    "faster than its Arrow twin for this struct-arg one-tuple-per-row "
    "shape; eval() is per-row Python under either transport",
}


def _plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_plan_scale_invariants(spark, name):
    plan = _plan_of(REGISTRY[name].fn(spark, SF))
    if name not in NESTED_LOOP_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unexpected nested-loop join — rewrite as an "
            f"equi/binned join or justify in NESTED_LOOP_ALLOWED"
        )
        assert "CartesianProduct" not in plan, (
            f"{name}: unexpected cartesian product"
        )
    if name not in ROW_PYTHON_ALLOWED:
        assert "BatchEvalPython" not in plan, (
            f"{name}: row-at-a-time Python UDF in the plan — use Arrow "
            f"(pandas_udf / mapInPandas) instead"
        )


def test_ks_test_single_prefix_sum_pass(spark):
    """VERDICT r16 item 6 pin: the r16 segment-pivot rewrite bought
    q_ks_test a SINGLE two-pass prefix sum — the returned plan must
    carry exactly ONE pass-2 cumulative Window and ONE prefix-sum
    offset attach (the __ps_pid-keyed exchange/join), where the r14
    grid form ran a second partitioned pass over the k x |values|
    evaluation grid. (Pass 1 executes behind the operator's pinned
    localCheckpoint, so the range exchange itself is upstream of the
    returned frame; the window + offset join are the in-plan
    signature of one running_totals invocation.)"""
    import re

    plan = _plan_of(REGISTRY["q_ks_test"].fn(spark, SF))
    n_windows = len(re.findall(r"^\(\d+\) Window", plan, re.M))
    assert n_windows == 1, f"expected 1 cumulative Window, got {n_windows}"
    n_off = plan.count("hashpartitioning(__ps_pid")
    assert n_off == 1, (
        f"expected 1 prefix-sum offset exchange (__ps_pid), got {n_off}"
    )


def test_scan_stage_parallelism_pins(spark):
    """r17 optimization pins: the bench-SF tables are single parquet
    splits, so these keys' heavy pre-exchange compute (md5 sweeps,
    exact-percentile buffering) must ride an explicit-width
    repartition (REPARTITION_BY_NUM survives AQE coalescing) instead
    of running single-core behind the scan. Values are placement-
    independent by construction for all three (exact bigint sums,
    per-doc deterministic chunking, count-map percentile merge)."""
    for name in ("q_chunk_cdc", "q_dedup_chunk_cross", "q_agg_percentile"):
        plan = _plan_of(REGISTRY[name].fn(spark, SF))
        assert "REPARTITION_BY_NUM" in plan, (
            f"{name}: the scan-stage parallelising repartition is gone"
        )


def test_fix_batch_flagship_single_shuffle(spark, tmp_path):
    """The fix_batch pass has ONE shuffle: ``read_nmea_text`` numbers
    lines in hash(track_id) partitions, which the forward fill, the
    merge and the flagship aggregate all reuse."""
    import re

    from gps_stream_processing_spark.operators.gps_fix import (
        flagship_from_fixes,
        gps_fix_pipeline,
    )
    from gps_stream_processing_spark.sources.nmea import (
        read_nmea_text,
        write_nmea_fixture,
    )

    write_nmea_fixture(spark, str(tmp_path), n_tracks=2, n_seconds=30)
    lines = read_nmea_text(spark, str(tmp_path))
    plan = _plan_of(flagship_from_fixes(gps_fix_pipeline(lines)))
    exchanges = re.findall(r"^\(\d+\) Exchange.*\n(?:.*\n)*?Arguments: (.*)", plan, re.M)
    assert len(exchanges) == 1, f"expected 1 shuffle exchange, got {exchanges}"


def test_bootstrap_ci_single_expansion(spark):
    """r17 optimization pin: q_bootstrap_ci derives the 32x replica
    expansion ONCE — one Generate (explode) and at most two parquet
    scans (base aggregate + expansion) in the returned plan; the old
    rn=2 / rn=31 broadcast-subtree pair carried a second expansion
    (its formatted plan showed 3 scans and 2 Generates)."""
    import re

    plan = _plan_of(REGISTRY["q_bootstrap_ci"].fn(spark, SF))
    n_gen = len(re.findall(r"^\(\d+\) Generate", plan, re.M))
    assert n_gen == 1, f"expected 1 Generate (replica explode), got {n_gen}"
    n_scan = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scan <= 2, f"expected <=2 parquet scans, got {n_scan}"
    assert "REPARTITION_BY_NUM" in plan


def test_spread_scan_is_noop_at_production_widths(spark):
    """spread_scan must add its exchange ONLY for narrow scans: a frame
    already at/above the session's core budget comes back unchanged
    (at production split counts the optimization must vanish, keeping
    the scale-correct plan), while a single-partition frame gains the
    explicit-width REPARTITION_BY_NUM exchange."""
    from gps_stream_processing_spark.plans.registry import spread_scan

    n = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, n + 1)
    assert spread_scan(wide, "id") is wide
    narrow = spark.range(0, 1000, 1, 1)
    out = spread_scan(narrow, "id")
    assert out is not narrow
    assert out.rdd.getNumPartitions() == n
    assert sorted(r.id for r in out.collect()) == list(range(1000))
