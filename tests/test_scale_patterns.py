from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from splitserve_spark.plans.inspect import _depth, count_exchanges, physical_plan
from splitserve_spark.registry import REGISTRY, load_all
from tests.oracle_utils import SF_DIR, check_query

load_all()


@pytest.mark.parametrize("name", ["join_salted_skew", "join_bucketed_colocated"])
def test_oracle_match(spark, name):
    check_query(spark, name, SF_DIR)


def test_bucketed_join_has_no_join_shuffle(spark):
    """With broadcast off (the 100 TB fact-fact case the buckets exist
    for), the join must consume the persisted bucketed layout: a
    sort-merge join with NO exchange feeding it — the only exchanges
    allowed are the post-join custkey aggregation and the final sort."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = REGISTRY["join_bucketed_colocated"].fn(spark, SF_DIR)
        plan = physical_plan(df, mode="simple")
        assert "SortMergeJoin" in plan, plan
        join_tail = plan[plan.index("SortMergeJoin"):]
        assert "Exchange" not in join_tail, f"shuffle below the join:\n{plan}"
        assert count_exchanges(df) <= 2, plan
        assert "Bucketed: true" in physical_plan(df, mode="formatted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_spreads_hot_key(spark):
    """The salted plan must join/aggregate on (key, salt) — visible as a
    hashpartitioning over both columns — before the per-key merge."""
    df = REGISTRY["join_salted_skew"].fn(spark, SF_DIR)
    plan = physical_plan(df, mode="simple")
    assert "salt" in plan, plan


def test_broadcast_vs_sortmerge_equivalence(spark):
    """Property test (SURVEY.md §5): the same logical join must produce
    identical results whichever physical strategy the planner picks."""
    from splitserve_spark.tables import Tables

    t = Tables(spark, SF_DIR)

    def run():
        return (
            t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("total"),
            )
            .orderBy("c_mktsegment")
            .collect()
        )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
        broadcast_rows = run()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        shuffle_rows = run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert broadcast_rows == shuffle_rows


MEMBERSHIP_QUERIES = [
    "qds16_multi_site_no_returns",
    "qds94_web_no_returns",
    "qds95_both_sites_view",
]


@pytest.mark.parametrize("name", MEMBERSHIP_QUERIES)
def test_membership_single_fact_pass_over_slice(spark, name):
    """The Q16/Q94/Q95 membership tests fold into ONE per-order
    aggregate over ONE lineitem pass: the plan must scan lineitem
    exactly once, with no countDistinct-style two-level expansion —
    min/max partials collapse the fact stream map-side.  And the
    aggregate groups only the orders slice's lines: the orders scan
    sits beneath the per-order partial_min (joined in before it), not
    beside it in a semi join applied after all of lineitem is
    grouped."""
    df = REGISTRY[name].fn(spark, SF_DIR)
    plan = physical_plan(df, mode="simple")
    assert plan.count("lineitem.parquet") == 1, plan
    assert "partial_min" in plan and "partial_max" in plan, plan
    assert "count(distinct" not in plan, plan
    lines = plan.splitlines()
    at = next(i for i, l in enumerate(lines) if "partial_min" in l)
    below = []
    for line in lines[at + 1:]:
        if _depth(line) <= _depth(lines[at]):
            break
        below.append(line)
    assert any("orders.parquet" in l for l in below), plan


@pytest.mark.parametrize("name", MEMBERSHIP_QUERIES)
def test_membership_plans_shuffle_join_without_broadcast(spark, name):
    """With broadcast disabled (orders grows with SF), the slice⋈
    lineitem join must be a shuffle equi-join — never a broadcast,
    nested-loop or cartesian form — and still match the oracle."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        plan = physical_plan(REGISTRY[name].fn(spark, SF_DIR))
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
        for bad in ("BroadcastHashJoin", "BroadcastNestedLoopJoin", "Cartesian"):
            assert bad not in plan, plan
        check_query(spark, name, SF_DIR, strict=True)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
