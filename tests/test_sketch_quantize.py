"""Plan-shape and invariant tests for e08 (sketch bounds) and d16
(int8 embedding quantization)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_table_providers_spark.llm.similarity import (
    d16_embedding_quantize,
)
from datafusion_table_providers_spark.operators.extensions import (
    e08_sketch_bounds,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_quantize_no_shuffle(spark):
    plan = _plan(d16_embedding_quantize(spark, SF))
    assert "Exchange" not in plan, (
        "quantization is a narrow per-row projection; a shuffle means the "
        "plan broke"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        "array lambdas must stay JVM-side"
    )


def test_quantize_codes_in_range_and_reversible(spark):
    rows = d16_embedding_quantize(spark, SF).collect()
    assert rows
    for r in rows[:50]:
        assert all(-127 <= c <= 127 for c in r.codes)
        assert r.n_sat >= 1, "the max-abs element must quantize to ±127"
        assert r.code_l1 >= abs(r.code_sum)
        assert r.maxabs > 0


def test_sketch_bounds_hold(spark):
    rows = e08_sketch_bounds(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.hll_ok, f"HLL error above 10% for {r.event_type}"
        assert r.p50_ok, f"p50 rank error above 2% for {r.event_type}"


def test_sketch_broadcast_scalars(spark):
    plan = _plan(e08_sketch_bounds(spark, SF))
    assert "BroadcastHashJoin" in plan, (
        "per-group sketch scalars must broadcast back, never shuffle-join"
    )


def test_pq_encode_map_only_and_codes_valid(spark):
    from datafusion_table_providers_spark.llm.similarity import (
        PQ_K,
        PQ_M,
        _pq_codebook,
        _pq_encode_plan_df,
        d18_pq_encode,
    )

    df = d18_pq_encode(spark, SF)
    # the memoized result is checkpointed (plan = bare ExistingRDD scan);
    # the map-only contract must be asserted on the RAW builder's plan
    plan = _plan(_pq_encode_plan_df(spark, SF, _pq_codebook(spark, SF)[0]))
    assert "Exchange" not in plan, (
        "PQ encode is one narrow pass over the corpus (codebook is a "
        "broadcast literal); a shuffle means the plan broke"
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    assert rows
    for r in rows:
        assert len(r.codes) == PQ_M
        assert all(0 <= c < PQ_K for c in r.codes)
        assert r.recon_err >= 0
    # codebook members encode to themselves exactly
    for r in rows:
        if r.vec_id < PQ_K:
            assert r.recon_err == 0 and list(r.codes) == [r.vec_id] * PQ_M, (
                "a codebook vector's nearest entry in every segment is "
                "itself, at distance 0"
            )


def test_pq_adc_ranks_codebook_twin_first(spark):
    from datafusion_table_providers_spark.llm.similarity import (
        PQ_NQ,
        PQ_TOPK,
        d18b_pq_adc,
    )

    df = d18b_pq_adc(spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        "the query set must broadcast; ADC scans the encoded table once"
    )
    rows = df.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == set(range(PQ_NQ))
    for qid, rs in by_q.items():
        assert len(rs) == PQ_TOPK
        ranks = sorted(r.rnk for r in rs)
        assert ranks == list(range(1, PQ_TOPK + 1))
        dists = [r.adist for r in sorted(rs, key=lambda r: r.rnk)]
        assert dists == sorted(dists), "rank must follow ascending adist"


def test_repetition_signals_bounds(spark):
    from datafusion_table_providers_spark.llm.text import d19_repetition

    rows = d19_repetition(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_types <= r.n_tok
        assert 0 < r.top_tok_frac6 <= 1
        assert 0 < r.ttr6 <= 1
        if r.dup2_frac6 is not None:
            assert 0 <= r.dup2_frac6 <= 1
        if r.dup3_frac6 is not None:
            assert 0 <= r.dup3_frac6 <= 1
            # a duplicated 3-gram implies a duplicated 2-gram at least as often
            if r.dup2_frac6 == 0:
                assert r.dup3_frac6 == 0


def test_semdedup_prunes_within_clusters(spark):
    from datafusion_table_providers_spark.llm.similarity import (
        d17_kmeans_clusters,
        d20_semdedup,
    )

    rows = d20_semdedup(spark, SF).collect()
    assert rows
    kdict = {
        r.cid: r.n_members for r in d17_kmeans_clusters(spark, SF).collect()
    }
    for r in rows:
        assert r.n_members == kdict[r.cid], (
            "SemDeDup must prune over exactly the d17 cluster assignment"
        )
        assert r.n_dropped + r.n_kept == r.n_members
        assert r.n_kept >= 1, (
            "the lowest-id member of a cluster is never within tau of a "
            "lower id, so every cluster keeps at least one representative"
        )


def test_kmeans_partitions_all_vectors(spark):
    from datafusion_table_providers_spark.llm.similarity import (
        KM_K,
        d17_kmeans_clusters,
    )
    from datafusion_table_providers_spark.operators.relational import _t

    rows = d17_kmeans_clusters(spark, SF).collect()
    n_vecs = _t(spark, SF, "embeddings").count()
    assert len(rows) <= KM_K
    assert sum(r.n_members for r in rows) == n_vecs, (
        "every vector must land in exactly one cluster"
    )
    again = d17_kmeans_clusters(spark, SF).collect()
    assert sorted((r.cid, r.n_members, r.min_vec) for r in rows) == sorted(
        (r.cid, r.n_members, r.min_vec) for r in again
    ), "clustering must be run-to-run deterministic"


def test_pandas_knn_matches_sql_knn(spark):
    """The vectorized numpy KNN must agree with the SQL-expression KNN on
    neighbor sets (cosine ties aside)."""
    from datafusion_table_providers_spark.llm.similarity import (
        d05_knn_bruteforce,
        pandas_knn_topk,
    )

    sql_top = {
        (r["qid"], r["cid"])
        for r in d05_knn_bruteforce(spark, SF).collect()
    }
    knn = pandas_knn_topk(spark, SF, n_queries=5, k=5)
    # rnk is row_number's int, as in every other top-k of the package
    assert knn.schema.simpleString() == (
        "struct<qid:bigint,cid:bigint,cosine:double,rnk:int>"
    )
    np_top = {(r["qid"], r["cid"]) for r in knn.collect()}
    overlap = len(sql_top & np_top) / len(sql_top)
    assert overlap >= 0.9  # allow boundary ties to differ
