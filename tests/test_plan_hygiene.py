"""Physical-plan hygiene over the ENTIRE registry.

The scale claims in README/SURVEY §4 are assertions about plans, not
prose — so test them as plans. For every registered query at the smoke
scale factor:

- no `CartesianProduct` (a shuffle-cartesian anywhere is a scale bug;
  the deliberate 1-row query-vector cross joins plan as
  BroadcastNestedLoopJoin, which stays legal)
- no `BatchEvalPython` (row-at-a-time Python UDFs are banned — the
  engine's Python boundary is Arrow-batched only: MapInPandas /
  FlatMapGroupsInPandas / ArrowEvalPython)
- no partitionBy-less windows over unbounded inputs (a global window
  funnels the whole input through ONE task — the single-reducer sort
  that killed the old star surrogate keys). Queries whose global
  window provably runs over a BOUNDED frame are allowlisted with the
  bound stated; anything new that plans `Window` over an
  `Exchange SinglePartition` must either justify its bound here or be
  rewritten (hash surrogate, or operators/joins.global_row_number).
"""

from __future__ import annotations

import os
import re

import pytest

from job_market_research_spark.registry import (
    FINGERPRINT_SCALE,
    load_all,
    load_fingerprints,
    plan_fingerprint,
)

SPECS = load_all()
FINGERPRINTS = load_fingerprints()

#: Global-window plans with a PROVEN bounded input. Key → the bound.
ALLOWED_GLOBAL_WINDOW = {
    # dimension-sized distinct feeds the surrogate window (the query
    # exists to demonstrate the reference's sequential get_or_create)
    "join_lookup_upsert": "distinct segment values (dimension-sized)",
    # same build_dimension helper (distinct priority values, ≤5 rows);
    # found by the round-9 RUNTIME warning audit
    # (scripts/audit_global_windows.py) — the window executes inside
    # the fn body ahead of the JDBC write, so the returned-plan regex
    # below cannot see it
    "sink_jdbc_star": "distinct priority values (dimension-sized)",
    # global_row_number's cumulative-offset frame is |partitions| rows
    "join_positional_zip": "offsets frame bounded by partition count",
    # pre-aggregated to one row per month / priority before the window
    "window_moving_avg": "|months| rows after pre-aggregation",
    "window_lag_delta": "|months| rows after pre-aggregation",
    "window_share_of_total": "|priorities| rows after pre-aggregation",
    # suffix max over the per-cell maxima table: exactly SKY_BUCKETS
    # (=64) rows regardless of corpus size
    "window_skyline_pareto": "SKY_BUCKETS rows after per-cell max agg",
    # cumulative spend over the bucket histogram: ≤ PARETO_BUCKETS+1
    # rows after per-bucket aggregation, regardless of order count
    "agg_pareto_coverage": "PARETO_BUCKETS+1 rows after bucket agg",
    # each leg is cut by TakeOrderedAndProject BEFORE its rank window:
    # the window input is ≤ RRF_DEPTH (=50) rows by construction
    "ir_hybrid_rrf": "RRF_DEPTH rows per leg after top-k cut",
    # waterline windows run on the per-source aggregate: |sources| rows
    "mixture_token_budget": "|sources| rows after per-source agg",
    # KM survival runs on the DISTINCT-death-day table: bounded by the
    # observation window (days), not by corpus size
    "agg_kaplan_meier": "|distinct death days| rows after day agg",
    # the cumulative-offset window runs on the per-day delta totals:
    # |days of history| rows; the corpus-sized sweep itself is
    # day-partitioned (the two-level prefix-sum design)
    "window_concurrency_sweep": "|days| rows after per-day delta agg",
    # the water-filling plan runs on the |files| manifest table
    # (COMPACT_BUCKETS rows), never on data rows
    "maintenance_compaction_plan": "|files| manifest rows only",
    # the rank window runs over the 2-arm per-day mean table
    # (≤ 2·|days| rows after the daily aggregation)
    "agg_mann_whitney_u": "2·|days| rows after per-day mean agg",
    # the bucket-offset window of the two-level ECDF prefix sum runs
    # over exactly KS_BUCKETS (=64) rows; the per-value cumulative is
    # bucket-partitioned
    "stat_ks_two_sample": "KS_BUCKETS rows after per-bucket agg",
    # the rank window separating the threshold order statistic runs on
    # exactly HILL_K+1 rows after the TakeOrdered top-k cut
    "agg_hill_tail_index": "HILL_K+1 rows after top-k cut",
    # the Zipf rank window runs on exactly ZIPF_K rows after the
    # TakeOrdered top-k vocabulary cut
    "text_zipf_fit": "ZIPF_K rows after top-k cut",
    # the rank prefix sum runs over the fixed DPM_BINS candidate grid
    # (128 rows by construction, data-independent)
    "privacy_dp_median": "DPM_BINS candidate-grid rows",
    # the priority-rank window runs on PRI_K+1 rows after the
    # TakeOrdered top-k cut
    "sample_priority_subset_sum": "PRI_K+1 rows after top-k cut",
    # the cumulative runs over the merged histogram: HQ_BINS (=64)
    # rows regardless of stream length
    "stream_histogram_quantile": "HQ_BINS rows after bin merge",
    # the BH rank window runs on the per-part-type hypothesis table
    # (|p_type| ~ 150 rows after the moment aggregation)
    "agg_bh_fdr": "|p_type| hypothesis rows after moment agg",
    # running sum/max over the per-day totals: |days| rows
    "window_max_drawdown": "|days| rows after per-day agg",
    # lag + rank run on the per-day diff table; the R/S block windows
    # are (n, block)-partitioned, not global
    "window_hurst_exponent": "|days| rows after per-day agg",
    # the cumulative-capture window runs on the LIFT_BINS band table
    "ml_lift_table": "LIFT_BINS rows after band agg",
    # the AUC cumulative runs on the ≤ AUC_MAX_BAND+1 band table
    "ml_eval_auc_roc": "AUC_MAX_BAND+1 rows after band agg",
    # both rank windows run on the per-day aggregate: |days| rows
    "agg_spearman_corr": "|days| rows after per-day agg",
    # the bucket-offset window of the two-level prefix sum runs over
    # exactly WQ_BUCKETS rows; the per-value cumulative is
    # bucket-partitioned
    "agg_weighted_quantile": "WQ_BUCKETS rows after per-bucket agg",
    # rank + lag windows run on the per-day aggregate: |days| rows
    "agg_xi_correlation": "|days| rows after per-day agg",
    # the PR cumulative runs on the ≤ AUC_MAX_BAND+1 band table
    "ml_eval_pr_auc": "AUC_MAX_BAND+1 rows after band agg",
    # lag + rolling-k windows run on the per-day revenue table
    "window_variance_ratio": "|days| rows after per-day agg",
    # both lag windows run on the per-day revenue table
    "window_forecast_skill": "|days| rows after per-day agg",
    # lag/lead windows run on the per-day revenue table
    "window_ljung_box": "|days| rows after per-day agg",
    # both lag windows run on the per-day revenue table
    "stat_runs_test": "|days| rows after per-day agg",
    # the AUC cumulative runs on the ADV_BANDS band table
    "monitor_adversarial_auc": "ADV_BANDS rows after band agg",
    # the argmin rank runs over the F1_GRID-row threshold sweep
    "ml_threshold_cost_min": "F1_GRID rows after sweep agg",
    # the argmax rank runs over the |arms| table
    "ml_bandit_ucb1": "|arms| rows after per-arm agg",
    # cumulative + lag windows run on the per-day revenue table
    "window_kpss_test": "|days| rows after per-day agg",
    # the CDF cumulative runs on the EMD_BINS bin table
    "monitor_emd_wasserstein": "EMD_BINS rows after bin agg",
    # the subgroup row_number runs on the per-day revenue table
    "window_control_chart": "|days| rows after per-day agg",
    # lag windows run on the per-day revenue table
    "window_forecast_combination": "|days| rows after per-day agg",
    # the worst-slice rank runs on the |sources| table
    "ml_eval_slice_accuracy": "|sources| rows after slice agg",
    # both placement cumulatives run on the ≤ AUC_MAX_BAND+1 band table
    "ml_eval_auc_delong_ci": "AUC_MAX_BAND+1 rows after band agg",
    # the at-risk cumulative runs on the |days| per-day entry table
    "agg_logrank_test": "|distinct duration days| rows after day agg",
}

#: A Window whose shuffle input collapsed to a single partition —
#: Sort may sit between the Window and its Exchange.
_GLOBAL_WINDOW = re.compile(
    r"Window [^\n]*\n[^\n]*?(?:Sort [^\n]*\n[^\n]*?)?Exchange SinglePartition"
)


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


#: Output types proven hash-safe across the driver's pandas-based
#: Spark-vs-DuckDB canonicalization (455 ever-green queries use only
#: these). DECIMAL is explicitly BANNED as an emission type: Spark's
#: toPandas renders it as Decimal objects while DuckDB's pandas
#: conversion renders it version-dependently (float64 in 1.0) — equal
#: values, different hash text. That type-level skew kept
#: window_holt_linear / window_max_drawdown driver-red for two rounds
#: (r9–r10) while every value-level reproduction was green. Compute in
#: DECIMAL internally all you like; CAST to DOUBLE (after rounding) at
#: the emission boundary. timestamp_ntz is included: join_asof and
#: window_skyline_pareto emit it and both are driver-green.
HASH_SAFE_EMISSION_TYPES = frozenset(
    {
        "double",
        "bigint",
        "int",
        "smallint",
        "tinyint",
        "string",
        "date",
        "timestamp",
        "timestamp_ntz",
        "boolean",
    }
)


#: BNLJ build sides that `_is_bounded` cannot prove constant-row but
#: whose bound holds BY CONTRACT (the query's own docstring states it);
#: same mechanism as ALLOWED_GLOBAL_WINDOW. Every entry names the
#: bound — a NEW query whose BNLJ broadcasts something corpus-sized
#: fails the check unless it can justify a row here.
ALLOWED_BNLJ_BUILD = {
    # literal query-vector / query-point selections: a vec_id-filter on
    # embeddings or a literal anchor set — ≤ Q rows by construction
    "ann_cosine_topk": "query vector: vec_id literal filter (1 row)",
    "ann_batch_topk": "literal query-vector batch (Q rows)",
    "ann_mips_topk": "query vector: vec_id literal filter (1 row)",
    "ann_filtered_topk": "query vector: vec_id literal filter (1 row)",
    "ann_lsh_bucketed": "query vector: vec_id literal filter (1 row)",
    "ann_pq_topk": "query vector: vec_id literal filter (1 row)",
    "ann_rp_rerank": "query vector: vec_id literal filter (1 row)",
    "ann_dim_truncation_recall": "query vectors: literal id filter",
    "ml_knn_classify": "literal query-point set broadcast",
    "sample_hard_negatives": "anchor set: literal id filter",
    # keyed aggregates whose key domain is bounded by contract
    "agg_kaplan_meier": "|distinct death days| (observation window)",
    "agg_kendall_tau_daily": "per-day moment table (|days|)",
    "agg_hodges_lehmann_shift": "per-day moment table (|days|)",
    "agg_welch_ttest": "2-arm moment table",
    "stream_welch_monitor": "2-arm moment table",
    "ml_eval_confusion": "|classes|^2 confusion cells",
    "ml_eval_retrieval_ndcg": "per-query ideal-gain table (|queries|)",
    "ml_isotonic_calibration": "per-bin PAV table (bounded bins)",
    "ml_naive_bayes_lang": "|langs| prior/denominator table",
    "ml_rdd_sharp": "2-row side-moment table (side in {0,1})",
    "privacy_t_closeness": "global value-distribution table (domain)",
    "sample_time_series_cv": "|folds| boundary table",
    "agg_audience_overlap": "KMV sketch table (K-bounded)",
    "agg_kmv_audience_sketch": "KMV sketch table (K-bounded)",
    "agg_shapley_attribution": "per-channel coalition table",
    "ir_hybrid_rrf": "per-leg top-k table (RRF_DEPTH rows)",
}

#: Row-bounding physical nodes: their OUTPUT row count is a constant
#: (limit k / literal frame) regardless of input data volume.
_BOUNDING_NODES = frozenset(
    {
        "GlobalLimitExec",
        "LocalLimitExec",
        "CollectLimitExec",
        "TakeOrderedAndProjectExec",
        "LocalTableScanExec",
        "RDDScanExec",  # createDataFrame of a literal Python list
        "EmptyRelationExec",
    }
)


def _is_bounded(node) -> bool:
    """True when a physical subtree provably emits a data-independent
    (constant-order) number of rows: a grand aggregate (no grouping
    keys) is 1 row; limits/literal frames are constant; every other
    node is bounded iff ALL its children are (Project/Filter/Exchange/
    Sort/Window preserve-or-reduce; keyed aggregates and joins of
    bounded inputs stay bounded; Generate's fan-out rides fixed-width
    literal arrays wherever it appears on a build side in this
    engine). Corpus leaves (FileScan, InMemoryTableScan of a staged
    corpus frame) have no children and return False."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _is_bounded(node.initialPlan())
    if name == "ReusedExchangeExec":
        return _is_bounded(node.child())
    if name in _BOUNDING_NODES:
        return True
    if name == "RangeExec":
        # spark.range bounds are literals by construction; bounded when
        # the element count is broadcast-sized (the literal grids the
        # engine builds are ≤ thousands of rows)
        return int(str(node.numElements())) <= 1_000_000
    if name.endswith("AggregateExec") and node.groupingExpressions().isEmpty():
        return True  # grand aggregate: exactly one row
    it = node.children().iterator()
    kids = []
    while it.hasNext():
        kids.append(it.next())
    return bool(kids) and all(_is_bounded(k) for k in kids)


def _unbounded_bnlj_builds(plan) -> list[str]:
    """Walk a JVM physical plan; for every BroadcastNestedLoopJoinExec
    return the node-name path of any build side that `_is_bounded`
    cannot prove constant-row (r11 verdict item 3 — turns PLANS.md's
    'all BNLJ builds are bounded broadcasts' prose into a pinned,
    machine-checked invariant)."""
    bad: list[str] = []

    def walk(node) -> None:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
            return
        kids = []
        it = node.children().iterator()
        while it.hasNext():
            kids.append(it.next())
        if name == "BroadcastNestedLoopJoinExec" and len(kids) == 2:
            build = kids[1] if str(node.buildSide()) == "BuildRight" else kids[0]
            if not _is_bounded(build):
                bad.append(build.getClass().getSimpleName())
        for k in kids:
            walk(k)

    walk(plan)
    return bad


@pytest.mark.parametrize("name", sorted(SPECS))
def test_no_cartesian_no_row_udf_no_global_window(spark, sf_dir, name):
    df = SPECS[name].fn(spark, sf_dir)
    if os.path.basename(os.path.normpath(sf_dir)) == FINGERPRINT_SCALE:
        # the committed fingerprint decides the driver's proof window:
        # a stale one would keep an edited query out of it
        committed = FINGERPRINTS.get(name, {}).get("fp")
        assert plan_fingerprint(df, SPECS[name].oracle, sf_dir) == committed, (
            f"{name}: plan or oracle changed since FINGERPRINTS.json was "
            "written — re-run `python scripts/plan_census.py` and commit "
            "FINGERPRINTS.json and PLANS.md"
        )
    bad_types = {
        f.name: f.dataType.simpleString()
        for f in df.schema.fields
        if f.dataType.simpleString().split("(")[0].split("<")[0]
        not in HASH_SAFE_EMISSION_TYPES
        # arrays/maps/structs are separately policed for oracle-carrying
        # queries by tests/oracle_utils.assert_parity; a no-oracle query
        # may legitimately emit them (rows-only driver check).
        and f.dataType.typeName() not in ("array", "map", "struct")
    }
    assert not bad_types, (
        f"{name}: emission types {bad_types} are outside the hash-safe "
        f"set {sorted(HASH_SAFE_EMISSION_TYPES)} — the driver's pandas "
        f"value hash renders them engine-dependently (DECIMAL cost two "
        f"rounds of red rows). CAST to DOUBLE/BIGINT at the emission "
        f"boundary; keep exact types internal."
    )
    plan = _physical_plan(df)
    assert "CartesianProduct" not in plan, f"{name}: shuffle-cartesian in plan"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF in plan"
    if _GLOBAL_WINDOW.search(plan):
        assert name in ALLOWED_GLOBAL_WINDOW, (
            f"{name}: partitionBy-less window over a single-partition "
            f"exchange — prove the input is bounded and allowlist it, or "
            f"rewrite (hash surrogate / global_row_number)"
        )
    if "BroadcastNestedLoopJoin" in plan:
        unbounded = _unbounded_bnlj_builds(
            df._jdf.queryExecution().executedPlan()
        )
        if unbounded and name in ALLOWED_BNLJ_BUILD:
            unbounded = []  # bound holds by documented contract
        assert not unbounded, (
            f"{name}: BroadcastNestedLoopJoin build side(s) not provably "
            f"constant-row: {unbounded}. A BNLJ whose build side can grow "
            f"with the data broadcasts the corpus — every legal BNLJ here "
            f"builds a 1-row aggregate, a literal frame, or a limit-cut."
        )


def test_sketch_prod_plan_is_exact_free(spark, sf_dir):
    """agg_sketch_prod is the production 100 TB aggregation path: the
    plan must contain ONLY mergeable sketches — no exact distinct
    expansion, no per-group percentile sort (those live in the
    agg_sketch_bounds contract query)."""
    df = SPECS["agg_sketch_prod"].fn(spark, sf_dir)
    plan = _physical_plan(df)
    assert "approx_count_distinct" in plan
    assert "percentile_disc" not in plan
    assert "count(distinct" not in plan.lower()
    # sketch agg is partial-merge (map-side combine before the shuffle)
    assert plan.count("ObjectHashAggregate") >= 2 or "partial" in plan.lower()


def test_seasonal_anomaly_broadcasts_bounded_baseline(spark, sf_dir):
    """agg_seasonal_anomaly's (type × hour) baseline is bounded —
    its join back to events must be a broadcast hash join, never a
    corpus shuffle on the events side."""
    plan = _physical_plan(SPECS["agg_seasonal_anomaly"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lttb_bucket_joins_broadcast(spark, sf_dir):
    """window_downsample_lttb joins the bounded (types × buckets)
    centroid table back twice — both must broadcast."""
    plan = _physical_plan(SPECS["window_downsample_lttb"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_knn_classify_broadcasts_query_set(spark, sf_dir):
    """ml_knn_classify's bounded query side must ride a broadcast
    nested-loop/hash join; the corpus side must not shuffle to meet
    it (its only exchanges are the qid ranking windows)."""
    plan = _physical_plan(SPECS["ml_knn_classify"].fn(spark, sf_dir))
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_cusum_stats_join_is_broadcast(spark, sf_dir):
    plan = _physical_plan(SPECS["window_cusum_change"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_aqe_skew_join_rewrite_fires_on_skewed_star_key(spark):
    """SCALE.md's analytics row claims 'AQE skew-join on' as the
    runtime backstop for sf-scaling star joins — pin that the rewrite
    actually FIRES, not just that the conf is set. Build the star
    shape (fact ⋈ dim on custkey-like key) with 95% of fact rows on
    one key, force the sort-merge path (broadcast off) and test-scale
    skew thresholds, and assert the executed adaptive plan split the
    hot partition (SortMergeJoin(skew=true) / AQEShuffleRead skewed)
    while the aggregate stays exact."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32k"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")

        n, hot = 200_000, 7
        fact = spark.range(0, n).select(
            F.when(F.col("id") % 20 != 0, F.lit(hot))
            .otherwise(F.col("id") % 1000)
            .alias("custkey"),
            (F.col("id") * 31).alias("spend"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("custkey"),
            F.concat(F.lit("seg"), F.col("id") % 5).alias("segment"),
        )
        agg = fact.join(dim, "custkey").groupBy("segment").agg(
            F.sum("spend").alias("total")
        )
        got = {r["segment"]: r["total"] for r in agg.collect()}
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, (
            "AQE did not split the skewed partition; executed plan:\n"
            + plan[:2000]
        )
        # the rewrite must not change results: hot key 7 lands in seg2
        want_hot = sum(i * 31 for i in range(n) if i % 20 != 0)
        want = {}
        for i in range(n):
            k = hot if i % 20 != 0 else i % 1000
            want[f"seg{k % 5}"] = want.get(f"seg{k % 5}", 0) + i * 31
        assert got == want and got["seg2"] >= want_hot
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: Every driver-side .collect() in the package, with its bound. A
#: collect is legal ONLY on provably bounded-metadata frames — anything
#: iterating corpus rows on the driver is not a distributed operator.
#: (file, funcname) → bound.
ALLOWED_COLLECT_SITES = {
    ("operators/manifest.py", "stage_range_clustered"): (
        "per-file manifest stats (|files| rows)"
    ),
    ("sources/binary_source.py", "stage_raw_files"): (
        "BINFILE_N-capped doc staging (test-fixture landing zone)"
    ),
    ("ml/geometry.py", "power_iteration_plan"): (
        "DIM-row (64) weight vector per power iteration"
    ),
    ("ml/clustering.py", "q_ml_adaboost_stumps"): (
        "<=34-row (bin,y) moment table"
    ),
    ("ml/clustering.py", "q_ml_gbdt_stumps_regression"): (
        "24-row hour-moment table"
    ),
}


def test_collect_sites_are_exactly_the_allowlisted_bounded_ones():
    """AST-walk every package module for DataFrame .collect() calls and
    require each to sit inside an allowlisted (file, function) with a
    stated bound — a new driver-side collect must prove its bound here
    or be rewritten. (collect_list/collect_set are aggregates, not
    driver pulls, and don't match.)"""
    import ast
    import pathlib

    import job_market_research_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    found = set()
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        # innermost enclosing function name per collect call
        class V(ast.NodeVisitor):
            def __init__(self):
                self.stack = []

            def visit_FunctionDef(self, node):
                self.stack.append(node.name)
                self.generic_visit(node)
                self.stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, node):
                f = node.func
                if isinstance(f, ast.Attribute) and f.attr == "collect":
                    found.add(
                        (
                            str(path.relative_to(root)),
                            self.stack[-1] if self.stack else "<module>",
                        )
                    )
                self.generic_visit(node)

        V().visit(tree)
    assert found == set(ALLOWED_COLLECT_SITES), (
        f"collect() sites changed.\n  new/unlisted: "
        f"{sorted(found - set(ALLOWED_COLLECT_SITES))}\n  stale allowlist: "
        f"{sorted(set(ALLOWED_COLLECT_SITES) - found)}"
    )


def test_bnlj_bounded_checker_catches_corpus_build(spark, sf_dir):
    """Negative control for the BNLJ invariant: a deliberately
    corpus-sized broadcast build (the whole orders table as the inner
    of a non-equi join) must be reported, and a 1-row-aggregate build
    must pass — proving the r12 machine check would fail if someone
    introduced a real corpus BNLJ."""
    from pyspark.sql import functions as F

    from job_market_research_spark.io import load

    orders = load(spark, sf_dir, "orders")
    one = orders.limit(3).select(F.col("o_orderkey").alias("k"))
    # corpus build: broadcast(orders) under a non-equi condition
    bad = one.join(
        F.broadcast(orders.select("o_orderkey")),
        one.k < F.col("o_orderkey"),
    )
    found = _unbounded_bnlj_builds(bad._jdf.queryExecution().executedPlan())
    assert found, "corpus-sized BNLJ build went undetected"
    # bounded build: 1-row grand aggregate under the same condition
    stats = orders.agg(F.max("o_orderkey").alias("mx"))
    good = one.join(F.broadcast(stats), one.k < F.col("mx"))
    assert not _unbounded_bnlj_builds(
        good._jdf.queryExecution().executedPlan()
    )


def test_rank_filters_get_window_group_limit(spark, sf_dir):
    """Scale pin for per-group top-k: `row_number().over(partitionBy
    (low-card key)) + filter(rk <= lit)` is only safe at 100 TB
    because Spark 4's InferWindowGroupLimit inserts a PARTIAL
    WindowGroupLimit before the shuffle (per input partition, only k
    rows per group survive) — without it, each group's full scored
    set funnels through one task. Assert the Partial node is really
    in the executed plan for every query that relies on it, so a
    refactor that breaks the inference (e.g. consuming the rank
    column before the filter) fails loudly."""
    relying = [
        "ann_batch_topk",
        "sample_hard_negatives",
        "ml_eval_retrieval_ndcg",
        "ml_knn_classify",
        "sample_reservoir_fixed_k",
    ]
    for name in relying:
        plan = _physical_plan(SPECS[name].fn(spark, sf_dir))
        assert "WindowGroupLimit" in plan and "Partial" in plan, (
            f"{name}: rank filter lost its WindowGroupLimit pushdown — "
            f"the low-cardinality group key would funnel the corpus "
            f"through one task; restore the row_number+literal-filter "
            f"shape or rewrite via ml/similarity.topk_per_group"
        )


#: Lineage-collapse guard (late r12, rekeyed r13): the iterative /
#: multi-consumer queries whose unrolled rounds once re-executed the
#: whole prior lineage per consumption (kcore 139 scans, HITS 108,
#: BFS 30, Bradley-Terry 48 before staging). Each cap is the
#: fresh-app census scan count (PLANS.md row, regenerated at this
#: HEAD) plus slack of 2 — far below each query's pre-staging
#: blow-up, so losing a stage (or the O(R^2)/O(2^R) unroll coming
#: back) fails loudly while normal plan drift does not. Counted with
#: scripts/plan_census.summarize_tree (each distinct cached build
#: charged once via its shared CachedRDDBuilder, matching its
#: once-per-app execution) — the TREE walk, not toString() parsing,
#: because executed cached frames reprint in AQE dual-section form
#: that defeats text keying and made the r12 guard order-dependent.
_LINEAGE_SCAN_CAPS = {  # fresh census scans + 2
    "graph_kcore_peel": 8,  # 6
    "graph_bfs_hops": 3,  # 1
    "graph_label_propagation": 4,  # 2
    "graph_modularity_score": 4,  # 2
    "graph_hits": 16,  # 14
    "ml_bradley_terry_strength": 4,  # 2
    "agg_basket_affinity": 3,  # 1
    "agg_markov_stationary": 3,  # 1 (staged transition matrix, r14)
    "text_vocab_jsd": 3,  # 1 (rides ws_tcounts, staged term counts, r14)
    "window_cusum_change": 6,  # 4 (one-pass argmax peak, r14)
    "agg_price_index_fisher": 4,  # 2 (linearized pivot, r14)
    "window_anomaly_mad": 5,  # 3 (window-aggregate medians, r14)
    "profile_ref_integrity": 14,  # 12 (one pass per child table, r14)
    "ml_naive_bayes_lang": 5,  # 3 (scoring rides staged_ws_tcounts; its build counts once)
    "window_downsample_lttb": 6,  # 4
    "text_ccnet_buckets": 9,  # 7
}


@pytest.mark.parametrize("qname", sorted(_LINEAGE_SCAN_CAPS))
def test_iterative_queries_stay_lineage_collapsed(spark, sf_dir, qname):
    """Dual-context: the cap must hold on a freshly built plan in
    whatever cache state the suite happens to be in (order
    independence), AND after this query has demonstrably executed in
    this very app — the exact condition (oracle-parity sweep first)
    that broke the r12 text-keyed guard."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_census",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "plan_census.py",
        ),
    )
    census = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(census)

    from job_market_research_spark.registry import load_all

    fn = load_all()[qname].fn
    cap = _LINEAGE_SCAN_CAPS[qname]
    df = fn(spark, sf_dir)
    before = census.summarize_tree(df)["scans"]
    assert before <= cap, (
        f"{qname}: {before} distinct scans (cap {cap}) — a staged "
        "leg was lost or the per-round unroll re-derives its lineage"
    )
    df.count()  # materialize the staged frames: reprints flip to AQE form
    after = census.summarize_tree(fn(spark, sf_dir))["scans"]
    assert after == before, (
        f"{qname}: scan count drifted across execution "
        f"({before} fresh -> {after} post-exec) — the cached-build "
        "dedup key is execution-state dependent again"
    )


#: Cache-substitution (reroute) allowlist: queries whose physical plan
#: is ALLOWED to read staged frames they never asked for, because the
#: substitution was adjudicated by an sf0.1 warm A/B (SCALE.md
#: "cache-substitution boundary"): rerouted/fused = 0.82x for
#: dedup_bridge_conflict and 0.87x for ml_eval_retrieval_ndcg (both
#: FASTER — the cached frames are exactly their expensive legs);
#: ann_index_build's partitioned-index read collapses 2 -> 1 onto the
#: shared normalized-embedding table (same A/B session). Entries are
#: exact (plans_md, with_all_stages) tuples — a reroute to a DIFFERENT
#: count is a new, un-adjudicated substitution and fails like any
#: other. ann_index_build's row is absent from the standing diff set
#: since the c22ead8 PLANS.md regen records its collapsed read, but
#: stays allowlisted in case a future regen restores the fused row.
ADJUDICATED_REROUTES = {
    "dedup_bridge_conflict": (0, 1),
    "ml_eval_retrieval_ndcg": (0, 2),
    "ann_index_build": (2, 1),
    # r14: the markov_trans staged frame (agg_markov_stationary's
    # transition matrix) substitutes into agg_event_transitions, whose
    # plan contains the same lag-window+count subtree. sf0.1 warm A/B
    # (fused first in a fresh app, then staged): 0.78-1.31 s fused vs
    # 0.34-0.41 s rerouted — 0.44×, the cache IS its expensive leg.
    "agg_event_transitions": (0, 2),
}


def test_staged_frames_do_not_silently_reroute_fused_queries(spark, sf_dir):
    """The wedge hazard, machine-checked (r13 verdict item 2): Spark's
    CacheManager substitutes any canonically-equal subtree of ANY
    query with a staged frame's InMemoryRelation — including queries
    that never asked for staging. For the graph wedge queries that
    substitution forfeits scan->distinct fusion and measured 1.4-1.7x
    SLOWER at sf0.1 (r12), so a NEW staged frame must not be able to
    reroute an existing query without an A/B-backed allowlist entry.
    Runs scripts/reroute_audit.audit in the suite session: construct
    every registered query, builder-runs ones included (registering
    every staged frame — no owner list), then diff each plan's
    staged-read count against PLANS.md.
    Deterministic in any suite cache state, since substitution
    happens at physical-planning time, after all registration."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "reroute_audit", os.path.join(root, "scripts", "reroute_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    changed = mod.audit(spark, sf_dir, root)
    rogue = [
        (n, ref, cur)
        for n, ref, cur in changed
        if ADJUDICATED_REROUTES.get(n) != (ref, cur)
    ]
    assert not rogue, (
        f"un-adjudicated cache reroutes {rogue}: a staged frame now "
        "substitutes into these queries' plans. A/B each at sf0.1 "
        "(warm, min-of-3, rerouted vs fused) per SCALE.md's "
        "cache-substitution rule, record the verdict there, then "
        "allowlist the exact (plans_md, with_all_stages) tuple — or "
        "add a distinguishing marker to the staged build so the "
        "subtree no longer canonicalizes equal."
    )

