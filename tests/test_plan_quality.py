"""Plan-quality regression tests: the physical plans behind the TPC-H-shaped
suite must keep the properties the 100 TB design depends on — no accidental
cartesian products, broadcast joins for dimension tables, and pruned parquet
scans. A refactor that silently degrades a plan (e.g. a dim join the planner
stops broadcasting, or a widened scan) fails here even though results stay
correct."""

from __future__ import annotations

import os

import pytest

from datafusion_table_providers_spark.core.memo import clear_memo_caches
from datafusion_table_providers_spark.suite import FULL_SUITE

SF = "/root/testdata/sf0.001"
#: second scale for the dimension-join pins: with no hints left, the
#: planner's own size estimates must still pick the same joins at 100x
SF_LARGE = os.path.join(os.path.dirname(SF), "sf0.1")

# queries whose plans must be cartesian-free (b09 is the deliberate theta
# join; everything else doing a cross product is a bug)
NO_CARTESIAN = [
    "b08_multi_join_q3",
    "t02_min_cost_supplier",
    "t05_local_supplier",
    "t07_volume_shipping",
    "t08_market_share",
    "t09_product_profit",
    "t10_returned_items",
    "t17_small_quantity",
    "t18_large_volume",
    "t21_waiting_suppliers",
]

# queries that join small dimensions and must broadcast at least one side
MUST_BROADCAST = [
    "b08_multi_join_q3",
    "t05_local_supplier",
    "t08_market_share",
    "t09_product_profit",
    "t10_returned_items",
]

# entries whose joins all have a side the code bounds by a constant it
# holds (query sets, centroids, shortlists, c15's connector dim) and hints
# through the gate: no join of theirs may depend on Catalyst's estimate,
# which sizes a filtered embeddings table as the whole table
GATED = [
    "d05_knn_bruteforce",
    "d05b_knn_lsh",
    "d06_lsh_ann",
    "d06b_ivf_ann",
    "d18b_pq_adc",
    "d33_pq_rerank",
    "c15_runtime_filter_scan",
]


def _plan(spark, name: str, sf: str = SF) -> str:
    df = FULL_SUITE[name].fn(spark, sf)
    return df._jdf.queryExecution().executedPlan().toString()


def _at_both_scales(names):
    """(name, sf) params; the sf0.001 ids stay the bare query names."""
    return [pytest.param(n, SF, id=n) for n in names] + [
        pytest.param(n, SF_LARGE, id=f"{n}-sf0.1") for n in names
    ]


@pytest.mark.parametrize("name, sf", _at_both_scales(NO_CARTESIAN))
def test_no_cartesian_product(spark, name, sf):
    plan = _plan(spark, name, sf)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name} degenerated to nested-loop join"
    )


@pytest.mark.parametrize("name, sf", _at_both_scales(MUST_BROADCAST))
def test_dimension_joins_broadcast(spark, name, sf):
    plan = _plan(spark, name, sf)
    assert "BroadcastHashJoin" in plan, f"{name} lost its broadcast dim join"


@pytest.mark.parametrize("name", GATED)
def test_gated_sides_broadcast_without_estimates(spark, name):
    """With Spark's size-based broadcast off, every join of a GATED entry
    still broadcasts: none shuffles or goes cartesian, as each would past
    the threshold if its bounded side were left to the planner."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        clear_memo_caches()
        plan = _plan(spark, name)
    finally:
        spark.conf.set(key, old)
        clear_memo_caches()
    assert "Broadcast" in plan, plan
    for op in ("CartesianProduct", "SortMergeJoin", "ShuffledHashJoin"):
        assert op not in plan, f"{name}: {op} with no size estimate\n{plan}"


def test_scan_projection_pruned(spark):
    # b01 projects 2 of 11 lineitem columns — the scan must read only those
    plan = _plan(spark, "b01_scan_projection")
    assert "l_orderkey" in plan and "l_quantity" in plan
    assert "l_comment" not in plan and "l_extendedprice" not in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "b17_topk")
    assert "TakeOrderedAndProject" in plan, "TopK must not global-sort"


def test_bucketed_join_eliminates_shuffle(spark):
    """Storage-level co-location: two tables bucketed by the join key join
    WITHOUT an Exchange on either side — the write-time partitioning lever
    for recurring fact-fact joins at scale."""
    from datafusion_table_providers_spark.operators.bucketed import (
        bucketed_join,
        write_bucketed,
    )

    a = spark.range(0, 10_000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 10_000).selectExpr("id AS k", "id * 3 AS vb")
    # pin the sort-merge path: at real fact-fact scale neither side
    # broadcasts, but these test tables are tiny and a broadcast join would
    # bypass (and disable) the bucketed read entirely
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(a, "bq_a", "k", n_buckets=8)
        write_bucketed(b, "bq_b", "k", n_buckets=8)
        joined = bucketed_join(spark, "bq_a", "bq_b", "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 10_000
        # the same join on unbucketed frames DOES shuffle — the baseline
        plain = a.join(b.withColumnRenamed("vb", "vb2"), on="k")
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bq_a")
        spark.sql("DROP TABLE IF EXISTS bq_b")


def test_connector_dim_join_broadcasts_from_stats(spark):
    """The c11 catalog shape: a parquet fact joined to a connector dim.
    Python-DS scans expose no stats to Catalyst, so only the
    auto_broadcast row-count hint makes this a BroadcastHashJoin — the
    exact shuffle that would dominate a federated star join at scale."""
    from datafusion_table_providers_spark.sources.suite import (
        c11_catalog_views,
    )

    df = c11_catalog_views(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert df.count() > 0


def test_round4_op_plan_properties(spark):
    """Enforce (not just record) the plan shapes of the round-4 ops:
    d26 broadcasts its eval side and never goes cartesian; d27's global
    ranking is a K-bounded TakeOrdered, not a full sort; d28 is one scan
    with no shuffle at all."""
    sf = "/root/testdata/sf0.001"
    from datafusion_table_providers_spark.llm.dedup import (
        d26_fuzzy_decontaminate,
    )
    from datafusion_table_providers_spark.llm.text import (
        d27_vocab_stats,
        d28_gopher_rules,
    )

    p26 = (
        d26_fuzzy_decontaminate(spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in p26, p26
    assert "CartesianProduct" not in p26 and "BroadcastNestedLoop" not in p26

    p27 = (
        d27_vocab_stats(spark, sf)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in p27, p27

    p28 = (
        d28_gopher_rules(spark, sf)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in p28, p28


def test_new_training_op_plan_properties(spark):
    """Round-4 late ops: d29's global ranking must stay a K-bounded
    TakeOrdered (vocabulary never fully sorts); d30/d31 must never
    degenerate to a cartesian (the 1-row scalar cross joins are
    broadcast by construction); e10's salt explode must survive as a
    Generate feeding a hash join — losing it silently restores the
    skew hotspot the operator exists to remove."""
    sf = "/root/testdata/sf0.001"
    from datafusion_table_providers_spark.llm.curation import d31_intradoc_dedup
    from datafusion_table_providers_spark.llm.text import (
        d29_bpe_pair_stats,
        d30_unigram_logprob,
    )
    from datafusion_table_providers_spark.operators.extensions import (
        e10_salted_join,
    )

    def plan(fn):
        return fn(spark, sf)._jdf.queryExecution().executedPlan().toString()

    p29 = plan(d29_bpe_pair_stats)
    assert "TakeOrderedAndProject" in p29, p29
    assert "CartesianProduct" not in p29

    p30 = plan(d30_unigram_logprob)
    assert "CartesianProduct" not in p30
    assert (
        "BroadcastHashJoin" in p30
        or "SortMergeJoin" in p30
        or "ShuffledHashJoin" in p30
    ), p30

    p31 = plan(d31_intradoc_dedup)
    assert "CartesianProduct" not in p31
    assert "Window" in p31, p31

    p10 = plan(e10_salted_join)
    assert "CartesianProduct" not in p10
    assert "Generate" in p10, p10
    assert "BroadcastHashJoin" in p10 or "SortMergeJoin" in p10, p10


def test_runtime_filter_row_plan_properties(spark):
    # c15: the fact/dim join must broadcast the dim (a few hundred keys),
    # and the connector scan's generated SQL must carry the runtime IN-list
    plan = _plan(spark, "c15_runtime_filter_scan")
    assert "BroadcastHashJoin" in plan, "c15 lost the broadcast dim join"
    assert "CartesianProduct" not in plan

    import json

    from pyspark.sql import functions as F

    from datafusion_table_providers_spark.core.expr import DIALECTS
    from datafusion_table_providers_spark.sources.duckdb_source import (
        DuckDBReader,
    )
    from datafusion_table_providers_spark.sources.dynamic_filter import (
        runtime_filter_clause,
    )

    dim = (
        spark.read.parquet(f"{SF}/customer.parquet")
        .filter(F.col("c_nationkey") == 5)
        .select("c_custkey")
    )
    clause, strategy = runtime_filter_clause(
        dim, "c_custkey", DIALECTS["duckdb"], fact_column="o_custkey"
    )
    assert strategy == "in_list"
    r = DuckDBReader(
        None,
        {
            "relation": "orders",
            "extra_where": json.dumps([clause]),
            "columns": json.dumps(["o_custkey", "o_totalprice"]),
        },
    )
    sql = r.scan_sql()
    assert '"o_custkey" IN (' in sql
    assert "SELECT *" not in sql  # projection stays pruned alongside


def test_budget_repeat_plan_properties(spark):
    # d36: one broadcast of the tiny mixture aggregate onto the corpus
    # scan — no sort-merge join, no window, no extra shuffle beyond d32's
    # own source aggregation
    plan = _plan(spark, "d36_budget_repeat")
    assert "BroadcastHashJoin" in plan, "d36 must broadcast the mixture"
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
