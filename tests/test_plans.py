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
    cartesian the naive formulation produces."""
    plan = plan_of(Q.range_join_events(spark, SF))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") == 2  # events scanned exactly once


def test_latest_events_single_window_exchange(spark):
    """The latest-version snapshot primitive (latest_by_key) is ONE
    window: exactly one hash exchange on the key pair, no join."""
    plan = plan_of(Q.latest_events(spark, SF))
    assert plan.count("hashpartitioning(user_id") == 1
    assert "Join" not in plan
