"""BM25 (d21) and edit-distance near-dup (d22) tests: plan-shape
properties the 100 TB design depends on, plus semantic invariants the
oracle comparison can't see."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_table_providers_spark.llm.dedup import (
    D22_TAU,
    d22_editdist_neardup,
)
from datafusion_table_providers_spark.llm.text import (
    BM25_QUERY,
    BM25_TOPK,
    d21_bm25,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bm25_topk_is_take_ordered(spark):
    rows = d21_bm25(spark, SF).collect()
    assert 0 < len(rows) <= BM25_TOPK
    # ranks are 1..n in strictly score-descending, doc_id-tiebroken order
    assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
    scores = [r.score6 for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert 1 <= r.n_terms <= len(BM25_QUERY)
        assert r.score6 > 0


def test_bm25_stats_broadcast(spark):
    plan = _plan(d21_bm25(spark, SF))
    # df-per-term and corpus stats must reach the scorers as broadcasts,
    # not shuffles
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_editdist_pairs_symmetric_bounded(spark):
    rows = d22_editdist_neardup(spark, SF).collect()
    seen = set()
    for r in rows:
        assert r.da < r.db, "pairs must be emitted once, lower id first"
        assert 0 <= r.dist <= D22_TAU
        assert (r.da, r.db) not in seen
        seen.add((r.da, r.db))


def test_editdist_no_cartesian(spark):
    plan = _plan(d22_editdist_neardup(spark, SF))
    assert "CartesianProduct" not in plan, (
        "candidate generation must be a blocked equi-join, never all-pairs"
    )


def test_editdist_exact_dups_have_distance_zero(spark):
    # a doc paired with itself (simulated by unioning a copy under a new id)
    # must surface at distance 0 — the blocking key can't miss identical text
    from datafusion_table_providers_spark.llm.dedup import _d22_prefixed

    p = _d22_prefixed(spark, SF)
    one = p.limit(1).collect()[0]
    assert len(one.pfx) > 0
    twin = p.filter(F.col("doc_id") == one.doc_id).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10**9)
    )
    both = p.unionByName(twin)
    a = both.select("bk", F.col("doc_id").alias("da"), F.col("pfx").alias("pa"))
    b = both.select("bk", F.col("doc_id").alias("db"), F.col("pfx").alias("pb"))
    pairs = (
        a.join(b, "bk")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db", F.levenshtein("pa", "pb").alias("dist"))
        .filter(F.col("da") == one.doc_id)
        .filter(F.col("db") == one.doc_id + 10**9)
        .collect()
    )
    assert len(pairs) == 1 and pairs[0].dist == 0


def test_phrase_search_hits_are_real(spark):
    from datafusion_table_providers_spark.operators.relational import _t
    from datafusion_table_providers_spark.llm.text import (
        D23_PHRASE,
        d23_phrase_search,
    )

    rows = d23_phrase_search(spark, SF).collect()
    assert rows, "corpus should contain the probe phrase"
    phrase_re = rf"\b{D23_PHRASE[0]}[^a-z]+{D23_PHRASE[1]}\b"
    docs = {
        r.doc_id: r.text
        for r in _t(spark, SF, "documents")
        .filter(F.col("doc_id").isin([r.doc_id for r in rows]))
        .collect()
    }
    import re

    for r in rows:
        found = len(re.findall(phrase_re, docs[r.doc_id].lower()))
        assert found == r.n_hits, (r.doc_id, found, r.n_hits)
