"""Physical-plan contracts: the plan properties the 100-TB story relies
on must not silently regress (pushdown reaching the scan, broadcast
joins on dimension sides, partial aggregation, no cartesian products).
"""

import re

import pytest

from pbf_spark import queries as Q

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def executed_nodes(df) -> list[tuple[str, bool, set[str], set[str]]]:
    """(node class, inside whole-stage codegen, expression classes,
    ``CodegenFallback`` expression classes) for every node of ``df``'s
    executed plan, through AQE query stages, reused exchanges and the
    plans cached under in-memory scans; lambda bodies included. Run an
    action on ``df`` first so the walk sees AQE's final plan. A
    ``CodegenFallback`` runs interpreted even inside a ``*(n)`` stage,
    so plan markers cannot show it."""
    fallback = df._sc._jvm.org.apache.spark.util.Utils.classForName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback", True, False
    )
    out, stack = [], [(df._jdf.queryExecution().executedPlan(), False)]
    while stack:
        node, in_codegen = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append((node.executedPlan(), in_codegen))
            continue
        if name.endswith("QueryStageExec") or name.startswith("Reused"):
            stack.append((node.plan() if name.endswith("StageExec") else node.child(), False))
            continue
        if name == "InMemoryTableScanExec":
            stack.append((node.relation().cachedPlan(), False))
        exprs, todo = [], _seq(node.expressions())
        while todo:
            exprs.append(todo.pop())
            todo.extend(_seq(exprs[-1].children()))
        classes = {e.getClass().getSimpleName() for e in exprs}
        fbs = {e.getClass().getSimpleName() for e in exprs if fallback.isInstance(e)}
        out.append((name, in_codegen, classes, fbs))
        # an InputAdapter ends a codegen stage: its subtree runs outside it
        inner = name == "WholeStageCodegenExec" or (in_codegen and name != "InputAdapter")
        stack.extend((c, inner) for c in _seq(node.children()))
    return out


def codegen_fallbacks(df) -> set[str]:
    """JVM classes of the ``CodegenFallback`` expressions ``df`` ran."""
    df.collect()
    return set().union(*(fbs for _, _, _, fbs in executed_nodes(df)))


def assert_refine_in_codegen(nodes) -> None:
    """The haversine refine (its ``Asin``) runs in a JVM codegen stage:
    no Python eval node computes it, no ``CodegenFallback`` beside it."""
    refine = [(n, cg, fbs) for n, cg, classes, fbs in nodes if "Asin" in classes]
    assert refine, "no node evaluates the haversine"
    for name, in_codegen, fbs in refine:
        assert "EvalPython" not in name and in_codegen and not fbs, refine


def test_q1_pushdown_and_pruning(spark):
    plan = plan_of(Q.q1_pricing_summary(spark, SF))
    # filter reaches the parquet scan; scan reads only needed columns
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "l_comment" not in plan  # untouched wide column pruned
    assert plan.count("HashAggregate") >= 2  # partial + final (map-side combine)


def test_q3_broadcasts_dimension_joins(spark):
    plan = plan_of(Q.q3_shipping_priority(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_pip_join_plan_shape(spark):
    """One fact-side scan, broadcast joins only, no cartesian/range join,
    the cell prefilter join inside whole-stage codegen."""
    df = Q.pip_events(spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # one scan = one tree node + one detail section in formatted mode
    assert plan.count("Scan parquet") == 2  # events scanned exactly once
    # AQE inserts codegen stages as it executes, so only the final plan
    # shows them. The ray-cast join condition is interpreted (aggregate()
    # is a CodegenFallback higher-order function); the prefilter is not
    df.collect()
    assert re.search(r"BroadcastHashJoin \[codegen id : \d+\]", plan_of(df))


def test_pip_multipolygon_same_shape(spark):
    plan = plan_of(Q.pip_events_multipolygon(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") == 2


def test_dedup_exact_partial_agg(spark):
    plan = plan_of(Q.dedup_exact(spark, SF))
    assert plan.count("HashAggregate") >= 2  # map-side combine before the shuffle
    assert "hashpartitioning(fingerprint" in plan


def test_lsh_pairs_no_cartesian(spark, monkeypatch):
    """minhash_lsh_pairs returns a checkpoint scan, so the lazy pair
    plan it materializes is captured on its way into the checkpoint."""
    from pbf_spark.operators import dedup

    plans = []
    materialize = dedup.checkpoint_and_release

    def capture(df, *scratch):
        plans.append(plan_of(df))
        return materialize(df, *scratch)

    monkeypatch.setattr(dedup, "checkpoint_and_release", capture)
    Q.lsh_near_dup_pairs(spark, SF).collect()
    (plan,) = plans
    assert "Left keys [2]: [band#" in plan  # the bucket self-join itself
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_events_hourly_partial_agg(spark):
    plan = plan_of(Q.events_hourly(spark, SF))
    assert plan.count("HashAggregate") >= 2


def test_sessionize_single_shuffle_on_key(spark):
    """Batch sessionization must shuffle ONCE on the key: the window and
    the session aggregation share the user_id partitioning."""
    plan = plan_of(Q.event_sessions(spark, SF))
    assert "CartesianProduct" not in plan
    # exactly one exchange hash-partitioned on user_id feeds both the
    # window and the groupBy (plus the final orderBy's range exchange)
    assert plan.count("hashpartitioning(user_id") == 1


def test_asof_join_no_range_explosion(spark):
    """The as-of join is a window composition — never a range/cartesian
    join, one hash exchange on the key."""
    plan = plan_of(Q.asof_join_events(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_tile_pyramid_one_pass(spark):
    """All zoom levels from ONE scan of the fact side with map-side
    partial aggregation."""
    plan = plan_of(Q.tile_pyramid_events(spark, SF))
    assert plan.count("Scan parquet") == 2  # events scanned exactly once
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_range_join_no_cross_join(spark):
    """DWithin join must be a cell equi-join + filter — never the
    cartesian the naive formulation produces — and the distance refine
    is Catalyst codegen, not a Python stage per candidate."""
    df = Q.range_join_events(spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") == 2  # events scanned exactly once
    df.collect()
    nodes = executed_nodes(df)
    assert_refine_in_codegen(nodes)
    # the distance filter folds into the prefilter join's condition
    assert any(n == "BroadcastHashJoinExec" and "Asin" in c for n, _, c, _ in nodes)


def test_knn_refine_in_codegen(spark, monkeypatch):
    """knn_events returns a checkpoint scan, so the ranked candidate plan
    is checked on its way into the checkpoint, after it ran."""
    from pbf_spark.operators import knn

    plans = []
    materialize = knn.checkpoint_and_release

    def capture(df, *scratch):
        out = materialize(df, *scratch)
        plans.append(executed_nodes(df))
        return out

    monkeypatch.setattr(knn, "checkpoint_and_release", capture)
    Q.knn_events(spark, SF).collect()
    (nodes,) = plans
    assert_refine_in_codegen(nodes)


def test_higher_order_lambdas_are_codegen_fallbacks(spark):
    """The higher-order-function lambdas run interpreted inside their
    codegen stage, as the ways, polygons, relations, text and dedup
    docstrings state: way lengths and ring metrics fold with
    ``aggregate``, ring stitching and minhash signatures use
    ``transform``, the stopword count uses ``filter``."""
    from pbf_spark.operators.ways import with_way_lengths
    from pbf_spark.util import small_df

    ways = with_way_lengths(
        small_df(spark, [(1, [51.5, 51.51, 51.52], [-0.1, -0.1, -0.11])],
                 "id long, way_lats array<double>, way_lons array<double>")
    )
    assert "ArrayAggregate" in codegen_fallbacks(ways)
    assert {"ArrayAggregate", "ArrayTransform"} <= codegen_fallbacks(Q.relation_ring_metrics(spark, SF))
    assert "ArrayTransform" in codegen_fallbacks(Q.minhash_signatures(spark, SF))
    assert "ArrayFilter" in codegen_fallbacks(Q.doc_quality(spark, SF))


def test_latest_events_single_window_exchange(spark):
    """The latest-version snapshot primitive (latest_by_key) is ONE
    window: exactly one hash exchange on the key pair, no join."""
    plan = plan_of(Q.latest_events(spark, SF))
    assert plan.count("hashpartitioning(user_id") == 1
    assert "Join" not in plan
