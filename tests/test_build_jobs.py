"""Building a dedup plan runs as few Spark jobs as its data-dependent
choices allow: the corpus size and schema come from parquet footers, the
group count from an Observation on the group map's own checkpoint, and
one build reads the documents table once."""

from __future__ import annotations

import time

import pyspark.sql.functions as F

from datafusion_table_providers_spark.core.memo import clear_memo_caches
from datafusion_table_providers_spark.llm import dedup

from tests.conftest import SF_DIR


def _with_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted through a job group."""
    sc = spark.sparkContext
    group = f"build-jobs-{time.time_ns()}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_doc_count_and_schema_from_footers(spark, dup_heavy_dir):
    # a single parquet file, and a Spark-written directory of part files
    # next to _SUCCESS and .crc files
    for sf in (SF_DIR, dup_heavy_dir):
        clear_memo_caches()
        (docs, n), jobs = _with_jobs(
            spark,
            lambda: (dedup._documents(spark, sf), dedup._doc_count(spark, sf)),
        )
        assert jobs == 0
        inferred = spark.read.parquet(f"{sf}/documents.parquet")
        assert docs.schema == inferred.schema
        assert n == inferred.count()


def test_observed_rep_count_matches_naive(spark, dup_heavy_dir):
    clear_memo_caches()
    m = dedup._text_groups(spark, dup_heavy_dir)
    n, jobs = _with_jobs(spark, lambda: dedup._rep_count(spark, dup_heavy_dir))
    assert jobs == 0
    assert n == m.where(F.col("doc_id") == F.col("gid")).count()
    # the replicated corpus has 3 copies of each sf0.001 text plus 4
    # duplicated degenerate texts, so groups are far fewer than docs
    assert n < dedup._doc_count(spark, dup_heavy_dir)


def test_observed_falls_back_when_aqe_drops_the_observed_stage(spark):
    """An ``observe`` below an exchange on an empty input: AQE drops the
    empty stage and Spark fills the Observation with an empty row."""
    from pyspark.sql import Observation

    obs = Observation()
    empty = spark.range(0).selectExpr("id", "id % 3 AS k").localCheckpoint()
    out = (empty.observe(obs, F.count(F.lit(1)).alias("n"))
           .groupBy("k").count()
           .localCheckpoint(eager=True))
    assert dedup._observed(obs, "n", lambda: out.count()) == 0


def _warm_build_jobs(spark, op):
    """Jobs of a second build of ``op`` after the memo is cleared: a build
    in a cold session can run a job or two more while Spark warms up."""
    op(spark, SF_DIR)
    clear_memo_caches()
    df, jobs = _with_jobs(spark, lambda: op(spark, SF_DIR))
    assert df.count() > 0
    return jobs


def test_d02b_build_job_budget(spark):
    jobs = _warm_build_jobs(spark, dedup.d02b_minhash_lsh_pairs)
    assert jobs <= 6, jobs


def test_d26_build_job_budget(spark):
    jobs = _warm_build_jobs(spark, dedup.d26_fuzzy_decontaminate)
    assert jobs <= 6, jobs


def test_d12_build_job_budget(spark):
    jobs = _warm_build_jobs(spark, dedup.d12_dedup_components)
    assert jobs <= 18, jobs
