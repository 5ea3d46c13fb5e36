"""Physical-plan invariants — the scale properties the engine is
designed around, pinned so a refactor can't silently regress them:

- predicate pushdown + column pruning reach the parquet scan;
- dimension joins broadcast (no fact-table shuffle);
- aggregations are two-phase (map-side partial before the exchange);
- JVM-only queries contain no Python evaluation nodes;
- window transforms share one Sort+Exchange across expressions.
"""

from __future__ import annotations

import pytest

from pandas_rust_algos_spark.plans import registry


def plan_of(spark, sf_dir, name: str) -> str:
    return explain(spark, registry.get(name).fn(spark, sf_dir))


def explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan, "shipdate not pushed to scan"
    # pruned read: no l_orderkey/l_partkey in the lineitem ReadSchema
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert plan.count("HashAggregate") >= 2, "missing map-side partial agg"
    assert "partial_" in plan


def test_q5_broadcasts_dims_no_fact_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_region_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, "dim chain must broadcast, not shuffle"
    # exactly one Exchange shuffles lineitem data: the final tiny agg
    # (count detail-section nodes "(N) Exchange", not the tree echo)
    import re

    shuffles = re.findall(r"^\(\d+\) Exchange$", plan, flags=re.M)
    assert len(shuffles) <= 1, f"unexpected extra shuffles: {shuffles}"


def test_q3_broadcasts_filtered_customer(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q3_top_orders")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan or "Limit" in plan, \
        "top-10 must not materialize the full sort"


def test_groupby_queries_stay_jvm_side(spark, sf_dir):
    # no Python evaluation in any hot path of the core operator queries
    for name in ["group_sum", "group_mean", "group_var_std_sem",
                 "group_quantile_linear", "group_cumsum", "group_rank",
                 "asof_join", "dedup_exact", "token_stats"]:
        plan = plan_of(spark, sf_dir, name)
        for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
            assert marker not in plan, f"{name}: Python in the hot path ({marker})"


def test_window_transforms_share_one_sort_exchange(spark, sf_dir):
    # cummin+cummax over the same (keys, order) must reuse a single
    # shuffle+sort, not one per expression
    plan = plan_of(spark, sf_dir, "group_cummin_cummax")
    n_sorts = sum(1 for l in plan.splitlines() if l.strip().startswith("(")
                  and ") Sort" in l)
    n_exch = plan.count("Exchange hashpartitioning")
    assert n_sorts <= 1, f"{n_sorts} sorts; window specs not shared"
    assert n_exch <= 1, f"{n_exch} hash exchanges; window specs not shared"


def test_scan_is_columnar_batched(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "group_sum")
    assert "Batched: true" in plan, "parquet scan lost vectorized reading"


def test_asof_join_single_shuffle(spark, sf_dir):
    # union-sort as-of join: one hash exchange on the key for the
    # window, nothing per-row exploding
    plan = plan_of(spark, sf_dir, "asof_join")
    assert plan.count("Exchange hashpartitioning") <= 2  # orders-dedup agg + window
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_banded_equi_join(spark, sf_dir):
    """The bucket-banding must plan as a hash/merge equi-join on the
    bucket — a BroadcastNestedLoopJoin means the theta predicate leaked
    into the join and the operator is a cross join at scale."""
    plan = plan_of(spark, sf_dir, "range_join")
    assert "NestedLoop" not in plan, "range join fell back to nested loop"
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_group_describe_single_shuffle(spark, sf_dir):
    """describe(): the quantile rank-window's hash partitioning must be
    reused by the final aggregation — exactly one Exchange of lineitem
    data for the whole eight-statistic summary."""
    import re

    plan = plan_of(spark, sf_dir, "group_describe")
    shuffles = re.findall(r"^\(\d+\) Exchange$", plan, flags=re.M)
    assert len(shuffles) == 1, plan
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan


def test_every_query_documented_in_survey():
    """SURVEY.md §8 is the judge's coverage map — every registered gate
    query must appear there, so the map can never drift behind the
    registry."""
    with open("/root/repo/SURVEY.md") as f:
        survey = f.read()
    missing = [n for n in registry.all_queries() if f"`{n}`" not in survey
               and n not in survey]
    assert not missing, f"queries absent from SURVEY.md: {missing}"


def test_scrub_ops_are_narrow_jvm_plans(spark, sf_dir):
    """PII scrub and the quality filter must stay narrow, Python-free
    expression DAGs — their whole point is running at scan speed
    before any shuffle."""
    for name in ("pii_scrub", "quality_filter"):
        plan = plan_of(spark, sf_dir, name)
        assert "EvalPython" not in plan and "InPandas" not in plan, name
        # the only allowed exchange is the tiny-fixture fan-out
        # (RoundRobin); no hash/range shuffle may appear
        assert "hashpartitioning" not in plan.lower(), name
        assert "rangepartitioning" not in plan.lower(), name


def test_tfidf_plan_shape(spark, sf_dir):
    """TF-IDF: corpus count must broadcast (one-row aggregate), never
    shuffle-join; no Python in the pipeline."""
    plan = plan_of(spark, sf_dir, "tfidf_topterms")
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_attribution_single_user_shuffle(spark, sf_dir):
    """Attribution must be the window form — one user-keyed exchange,
    no self-join of the event stream."""
    import re

    plan = plan_of(spark, sf_dir, "events_attribution")
    assert "Join" not in plan, "attribution must not self-join events"
    assert len(re.findall(r"hashpartitioning\(user_id", plan)) >= 1


def test_winsorize_single_shuffle_narrow_bounds(spark, sf_dir):
    """Winsorize (r8 shape): ONE shuffle total, and it carries only
    the narrow (keys, value) bounds side — the full-width rows reach
    the clip through a broadcast join, never an exchange."""
    import re

    plan = plan_of(spark, sf_dir, "group_winsorize")
    final = plan.split("== Initial Plan ==")[0]
    shuffles = {m.group(1) for m in re.finditer(
        r"\bExchange (?:hash|range|single|round)[^(\n]*\((\d+)\)",
        final)}
    assert len(shuffles) <= 1, \
        f"expected <=1 shuffle exchange, saw {len(shuffles)}"
    assert "BroadcastHashJoin" in final, "bounds must broadcast back"


# Spark jobs per gate's collect at sf0.001 on local[4], as measured
# before the sketch families shared one cell skeleton; a merge that
# loses its map-side combine or gains a pass shows up here first.
_SKETCH_MERGE_JOBS = {
    "cms_incremental_merge": 6,
    "hll_incremental_merge": 7,
    "hist_incremental_merge": 3,
    "hist_weighted_incremental_merge": 3,
    "corr_weighted_incremental_merge": 3,
    "kmv_incremental_merge": 5,
}


@pytest.mark.parametrize("name", sorted(_SKETCH_MERGE_JOBS))
def test_sketch_merges_two_phase_jvm_side_job_count(spark, sf_dir, name):
    """Every incremental-merge gate of the sketch family stays a
    two-phase (partial + final) aggregate, runs no Python, and spends
    no more Spark jobs than its pinned count."""
    sc = spark.sparkContext
    df = registry.get(name).fn(spark, sf_dir)
    group = f"sketch-merge-jobs-{name}"
    sc.setJobGroup(group, "sketch merge job-count pin")
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    plan = explain(spark, df)
    assert "partial_" in plan, f"{name}: lost the map-side partial agg"
    for marker in ("BatchEvalPython", "ArrowEvalPython", "InPandas"):
        assert marker not in plan, f"{name}: Python in the plan ({marker})"
    assert len(jobs) <= _SKETCH_MERGE_JOBS[name], (name, jobs)
