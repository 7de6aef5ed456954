"""Edge-case invariants for the round-4 training-pipeline operators
(d29-d33, e10). Oracle equivalence is certified by the suite rows; these
tests pin the SEMANTIC contracts a hash-match alone would not explain."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_bpe_pairs_ranked_and_positive(spark):
    from datafusion_table_providers_spark.llm.text import (
        BPE_K,
        d29_bpe_pair_stats,
    )

    rows = d29_bpe_pair_stats(spark, SF).collect()
    assert 0 < len(rows) <= BPE_K
    # every pair is exactly 2 chars (the length>=2 guard holds), counts
    # positive, ranks dense from 1 in count-desc order
    assert all(len(r["pair"]) == 2 and r["pair_count"] > 0 for r in rows)
    ranked = sorted(rows, key=lambda r: r["rnk"])
    assert [r["rnk"] for r in ranked] == list(range(1, len(rows) + 1))
    counts = [r["pair_count"] for r in ranked]
    assert counts == sorted(counts, reverse=True)


def test_unigram_logprob_bounds(spark):
    from datafusion_table_providers_spark.llm.text import d30_unigram_logprob
    from datafusion_table_providers_spark.operators.relational import _t

    out = d30_unigram_logprob(spark, SF)
    n_docs = _t(spark, SF, "documents").count()
    rows = out.collect()
    assert len(rows) == n_docs
    # every token's surprisal is >= 0 bits (p <= 1); token counts positive
    assert all(r["mean_surprisal_bits"] >= 0 and r["n_toks"] > 0 for r in rows)
    # the corpus has no token covering half the stream, so some surprisal
    # must register
    assert any(r["mean_surprisal_bits"] > 0 for r in rows)


def test_intradoc_dedup_reassembly(spark):
    from datafusion_table_providers_spark.llm.curation import d31_intradoc_dedup
    from datafusion_table_providers_spark.operators.relational import _t

    out = d31_intradoc_dedup(spark, SF)
    docs = _t(spark, SF, "documents").select("doc_id", F.md5("text").alias("h"))
    j = out.join(docs, "doc_id").collect()
    assert len(j) == docs.count()  # every document survives
    for r in j:
        assert 1 <= r["n_kept"] <= r["n_chunks"]
        if r["n_kept"] == r["n_chunks"]:
            # nothing dropped → chunks reassemble to the original text
            assert r["clean_hash"] == r["h"]


def test_mixture_weights_normalize(spark):
    from datafusion_table_providers_spark.llm.curation import (
        MIX_BUDGET,
        d32_mixture_weights,
    )

    rows = d32_mixture_weights(spark, SF).collect()
    assert len(rows) >= 2
    total_w = sum(r["mix_weight"] for r in rows)
    assert total_w == pytest.approx(1.0, abs=1e-4)
    assert sum(r["quota_docs"] for r in rows) == pytest.approx(
        MIX_BUDGET, abs=len(rows)
    )
    # alpha=0.5 upsamples small sources: weight share > doc share for the
    # smallest source, < for the largest
    n_total = sum(r["n_docs"] for r in rows)
    smallest = min(rows, key=lambda r: r["n_docs"])
    largest = max(rows, key=lambda r: r["n_docs"])
    if smallest["n_docs"] < largest["n_docs"]:
        assert smallest["mix_weight"] > smallest["n_docs"] / n_total
        assert largest["mix_weight"] < largest["n_docs"] / n_total


def test_pq_rerank_subset_of_adc_shortlist(spark):
    from datafusion_table_providers_spark.llm.similarity import (
        RR_TOPK,
        d18b_pq_adc,
        d33_pq_rerank,
    )

    rr = d33_pq_rerank(spark, SF).collect()
    assert rr and all(1 <= r["rnk"] <= RR_TOPK for r in rr)
    # exact distances are non-negative and non-decreasing in rank per query
    by_q = {}
    for r in rr:
        by_q.setdefault(r["qid"], []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r["rnk"])
        dists = [r["edist"] for r in rows]
        assert all(d >= 0 for d in dists)
        assert dists == sorted(dists)
    # the ADC top-k and the re-ranked top-k agree on the query set
    adc_q = {r["qid"] for r in d18b_pq_adc(spark, SF).collect()}
    assert set(by_q) == adc_q


def test_salted_join_row_matches_plain(spark):
    from datafusion_table_providers_spark.operators.extensions import (
        e10_salted_join,
    )
    from datafusion_table_providers_spark.operators.relational import _t

    got = {r["brand"]: r["n_items"] for r in e10_salted_join(spark, SF).collect()}
    li = _t(spark, SF, "lineitem").select("l_partkey")
    pt = _t(spark, SF, "part").select("p_partkey", "p_brand")
    plain = {
        r["p_brand"]: r["n"]
        for r in li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == plain


def test_misra_gries_guarantees_on_zipf(spark):
    """The MG guarantees must hold under heavy eviction pressure: a zipf
    stream with a long tail (500 distinct items, K=4 counters). For every
    item with true_n > N/(K+1): present in the sketch, never overcounted,
    undercount <= N/(K+1). Driven through the real mapInPandas path."""
    import pandas as pd
    from pyspark.sql import functions as F

    from datafusion_table_providers_spark.operators.extensions import (
        MG_K,
        _mg_partition,
    )

    # deterministic zipf-ish stream: one dominant item (~30% of the
    # stream, safely above the N/(K+1) threshold) over a 500-item tail
    items = ["i1"] * 8000
    for i in range(2, 501):
        items.extend([f"i{i}"] * (3000 // i))
    # fixed interleave (worst for MG is adversarial ordering; a stride
    # shuffle is plenty and keeps the test deterministic)
    items = [items[(j * 7919) % len(items)] for j in range(len(items))]
    n_total = len(items)

    df = spark.createDataFrame(pd.DataFrame({"item": items})).repartition(8)

    est = {
        r["item"]: r["s"]
        for r in df.mapInPandas(_mg_partition, schema="item string, est long")
        .groupBy("item")
        .agg(F.sum("est").alias("s"))
        .collect()
    }
    true = {
        r["item"]: r["n"]
        for r in df.groupBy("item").agg(F.count("*").alias("n")).collect()
    }
    bound = n_total / (MG_K + 1)
    heavies = [t for t, n in true.items() if n > bound]
    assert heavies  # i1 (~8000 of ~25k) is heavy at K=4
    for t in heavies:
        assert t in est, f"heavy hitter {t} missing from sketch"
    for t, e in est.items():
        assert e <= true[t], f"{t} overcounted: {e} > {true[t]}"
        assert true[t] - e <= bound, f"{t} undercount beyond bound"


def test_clustered_write_enables_file_pruning(spark, tmp_path):
    """write_clustered must produce files with DISJOINT cluster-key ranges
    (footer min/max), so a selective reader skips whole files; an
    unclustered write of the same data spans the full range in every file
    and can prune nothing."""
    import pyarrow.parquet as pq

    from datafusion_table_providers_spark.operators.relational import _t
    from datafusion_table_providers_spark.write.output import write_clustered

    df = _t(spark, SF, "orders").select("o_orderkey", "o_totalprice")

    clustered = str(tmp_path / "clustered")
    write_clustered(df, clustered, ["o_orderkey"], num_files=4)
    plain = str(tmp_path / "plain")
    df.repartition(4).write.mode("overwrite").parquet(plain)

    def key_ranges(root):
        import os as _os

        ranges = []
        for f in _os.listdir(root):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(_os.path.join(root, f)).metadata
            los, his = [], []
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(0)  # o_orderkey
                los.append(col.statistics.min)
                his.append(col.statistics.max)
            ranges.append((min(los), max(his)))
        return sorted(ranges)

    cr = key_ranges(clustered)
    assert len(cr) >= 3
    # disjoint: each file's max < next file's min (range partitioner)
    assert all(hi < next_lo for (_, hi), (next_lo, _) in zip(cr, cr[1:]))

    pr = key_ranges(plain)
    # round-robin files all span (nearly) the full key range — overlap
    assert any(hi >= next_lo for (_, hi), (next_lo, _) in zip(pr, pr[1:]))

    # end to end: a point-range filter over the clustered layout returns
    # the same rows as over the plain one (layout never changes results)
    lo = cr[1][0]
    got = spark.read.parquet(clustered).filter(f"o_orderkey >= {lo}").count()
    want = spark.read.parquet(plain).filter(f"o_orderkey >= {lo}").count()
    assert got == want


def test_budget_repeat_materializes_quota(spark):
    from datafusion_table_providers_spark.llm.curation import (
        d32_mixture_weights,
        d36_budget_repeat,
    )

    rep = d36_budget_repeat(spark, SF)
    mix = {
        r["source"]: (r["n_docs"], r["quota_docs"])
        for r in d32_mixture_weights(spark, SF).collect()
    }
    per_src = {
        r["source"]: (r["n"], r["total"])
        for r in rep.groupBy("source")
        .agg(
            F.count("*").alias("n"), F.sum("n_copies").alias("total")
        )
        .collect()
    }
    assert set(per_src) == set(mix)
    for src, (n, total) in per_src.items():
        n_docs, quota = mix[src]
        assert n == n_docs  # one row per document, zero-copy docs included
        full, rem = divmod(quota, n_docs)
        # every doc carries the full-copy floor; extra copies are a
        # deterministic hash draw with expectation rem — bound loosely
        assert total >= full * n_docs
        assert abs(total - quota) <= max(8, rem)  # binomial tail, tiny n


def test_budget_repeat_is_deterministic(spark):
    from datafusion_table_providers_spark.llm.curation import d36_budget_repeat

    a = sorted(map(tuple, d36_budget_repeat(spark, SF).collect()))
    b = sorted(map(tuple, d36_budget_repeat(spark, SF).collect()))
    assert a == b


def test_adaptive_length_filter_trims_tails(spark):
    from datafusion_table_providers_spark.llm.curation import (
        MIN_LANG_DOCS,
        d38_adaptive_length_filter,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    kept = d38_adaptive_length_filter(spark, SF)
    by_lang = {
        r["lang"]: r["n"]
        for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    kept_by_lang = {
        r["lang"]: r["n"]
        for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for lang, n in by_lang.items():
        if lang is None:
            continue
        k = kept_by_lang.get(lang, 0)
        if n < MIN_LANG_DOCS:
            assert k == n  # tiny groups pass through untrimmed
        else:
            # ~90% central band kept, never everything unless lengths tie
            assert 0 < k <= n
            assert k >= int(n * 0.85)


def test_adaptive_length_filter_approx_twin_close_to_exact(spark):
    from datafusion_table_providers_spark.llm.curation import (
        d38_adaptive_length_filter,
    )

    exact = {
        r["doc_id"] for r in d38_adaptive_length_filter(spark, SF).collect()
    }
    approx = {
        r["doc_id"]
        for r in d38_adaptive_length_filter(spark, SF, approx=True).collect()
    }
    # sketch cutoffs may move a few boundary docs, never the central mass
    assert len(exact & approx) >= int(0.95 * len(exact))


def test_compact_dataset_merges_small_files(spark, tmp_path):
    import glob

    from datafusion_table_providers_spark.write.output import compact_dataset

    path = str(tmp_path / "frag")
    df = spark.range(0, 20000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)  # simulate a fragmented sink
    rows_before = spark.read.parquet(path).count()
    n_before, n_after = compact_dataset(spark, path, target_file_bytes=1 << 30)
    assert n_before == 64
    assert n_after <= 2  # tiny dataset → one target-sized file
    out = spark.read.parquet(path)
    assert out.count() == rows_before
    assert {r["id"] for r in out.collect()} == set(range(20000))
    # staging/trash dirs cleaned up
    assert glob.glob(str(tmp_path / "frag__*")) == []


def test_compact_dataset_with_clustering_prunes(spark, tmp_path):
    import pyarrow.parquet as pq
    import glob

    from datafusion_table_providers_spark.write.output import compact_dataset

    path = str(tmp_path / "cl")
    spark.range(0, 40000).withColumn(
        "k", (F.col("id") * 2654435761) % 40000
    ).repartition(32).write.parquet(path)
    compact_dataset(
        spark, path, target_file_bytes=120_000, cluster_by=["k"]
    )
    files = glob.glob(f"{path}/*.parquet")
    assert len(files) > 1  # sizing split the rewrite
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        stats = [
            md.row_group(i).column(1).statistics for i in range(md.num_row_groups)
        ]
        ranges.append(
            (min(s.min for s in stats), max(s.max for s in stats))
        )
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint key ranges → footer file-skipping


def test_training_order_shards_balanced_and_deterministic(spark):
    from datafusion_table_providers_spark.llm.curation import (
        N_SHUFFLE_SHARDS,
        d36_budget_repeat,
        d39_training_order,
    )

    rows = {r["shard"]: r for r in d39_training_order(spark, SF).collect()}
    assert set(rows) == set(range(N_SHUFFLE_SHARDS))
    total = sum(r["n_instances"] for r in rows.values())
    expected = (
        d36_budget_repeat(spark, SF)
        .agg(F.sum("n_copies").alias("t"))
        .collect()[0]["t"]
    )
    assert total == expected  # every materialized instance lands somewhere
    counts = [r["n_instances"] for r in rows.values()]
    assert max(counts) < 3 * (total // N_SHUFFLE_SHARDS)  # hash balance
    again = {r["shard"]: r for r in d39_training_order(spark, SF).collect()}
    for s in rows:  # reproducible run-to-run: same first/last/checksum
        assert (
            rows[s]["first_doc"],
            rows[s]["last_doc"],
            rows[s]["key_checksum"],
        ) == (
            again[s]["first_doc"],
            again[s]["last_doc"],
            again[s]["key_checksum"],
        )


def test_compact_dataset_recovers_mid_swap_crash(spark, tmp_path):
    import os
    import shutil

    from datafusion_table_providers_spark.write.output import compact_dataset

    path = str(tmp_path / "crash")
    spark.range(0, 1000).repartition(8).write.parquet(path)
    # simulate a crash between the two publish renames: dataset lives only
    # in the trash dir, plus a stale staging dir
    os.rename(path, path + "__compacted_old")
    os.makedirs(path + "__compacting")
    n_before, n_after = compact_dataset(spark, path, target_file_bytes=1 << 30)
    assert n_before == 8 and n_after >= 1
    assert spark.read.parquet(path).count() == 1000  # nothing lost
    assert not os.path.exists(path + "__compacted_old")
    assert not os.path.exists(path + "__compacting")
    shutil.rmtree(path)


def test_compact_dataset_refuses_hive_partitioned(spark, tmp_path):
    import pytest as _pytest

    from datafusion_table_providers_spark.write.output import compact_dataset

    path = str(tmp_path / "hive")
    spark.range(0, 100).withColumn("p", F.col("id") % 2).write.partitionBy(
        "p"
    ).parquet(path)
    with _pytest.raises(ValueError, match="hive-partitioned"):
        compact_dataset(spark, path)
    # dataset untouched
    assert spark.read.parquet(path).count() == 100
