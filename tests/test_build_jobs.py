"""Building a dedup plan runs as few Spark jobs as its data-dependent
choices allow: the corpus size and schema come from parquet footers, the
group count from an Observation on the group map's own checkpoint, and
one build reads the documents table once."""

from __future__ import annotations

import pyspark.sql.functions as F

from datafusion_table_providers_spark.core.memo import clear_memo_caches
from datafusion_table_providers_spark.llm import dedup

from tests.conftest import SF_DIR
from verify_local import job_group


def test_doc_count_and_schema_from_footers(spark, dup_heavy_dir):
    # a single parquet file, and a Spark-written directory of part files
    # next to _SUCCESS and .crc files
    for sf in (SF_DIR, dup_heavy_dir):
        clear_memo_caches()
        with job_group(spark) as build:
            docs, n = dedup._documents(spark, sf), dedup._doc_count(spark, sf)
        assert build.jobs == []
        inferred = spark.read.parquet(f"{sf}/documents.parquet")
        assert docs.schema == inferred.schema
        assert n == inferred.count()


def test_table_reads_build_without_jobs(spark):
    """Local table reads take their schema from the parquet footers, so a
    scan entry builds without a schema-inference job."""
    from datafusion_table_providers_spark.operators import relational

    assert _warm_build_jobs(spark, relational.b01_scan_projection) == 0
    for name in ("customer", "events", "lineitem"):
        with job_group(spark) as build:
            df = relational._t(spark, SF_DIR, name)
        assert build.jobs == [], name
        inferred = spark.read.parquet(f"{SF_DIR}/{name}.parquet")
        if name == "events":
            inferred = inferred.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        assert df.schema == inferred.schema, name


def test_partitioned_reads_fall_back_to_inference(spark, tmp_path):
    """``k=v`` directories carry a column no footer has, and an INT96
    timestamp (Spark's default output type) reads as zoned in Spark but
    zone-less in Arrow: Spark infers both."""
    from datafusion_table_providers_spark.operators import relational

    path = str(tmp_path / "parts")
    spark.range(6).selectExpr("id", "id % 2 AS k").write.partitionBy(
        "k").parquet(path)
    df, n = relational._scan(spark, path)
    assert n is None and sorted(df.columns) == ["id", "k"]
    assert df.count() == 6

    path = str(tmp_path / "int96")
    key = "spark.sql.parquet.outputTimestampType"
    prior = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        spark.range(3).selectExpr("id", "current_timestamp() AS ts").write.parquet(path)
    finally:
        spark.conf.set(key, prior)
    df, n = relational._scan(spark, path)
    assert n is None
    assert df.schema == spark.read.parquet(path).schema
    assert len(df.collect()) == 3


def test_observed_rep_count_matches_naive(spark, dup_heavy_dir):
    clear_memo_caches()
    m = dedup._text_groups(spark, dup_heavy_dir)
    with job_group(spark) as build:
        n = dedup._rep_count(spark, dup_heavy_dir)
    assert build.jobs == []
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
    with job_group(spark) as build:
        df = op(spark, SF_DIR)
    assert df.count() > 0
    return len(build.jobs)


def test_d02b_build_job_budget(spark):
    jobs = _warm_build_jobs(spark, dedup.d02b_minhash_lsh_pairs)
    assert jobs <= 6, jobs


def test_d26_build_job_budget(spark):
    jobs = _warm_build_jobs(spark, dedup.d26_fuzzy_decontaminate)
    assert jobs <= 6, jobs


def test_d12_build_job_budget(spark):
    jobs = _warm_build_jobs(spark, dedup.d12_dedup_components)
    assert jobs <= 18, jobs


def test_d35_build_job_budget(spark):
    jobs = _warm_build_jobs(spark, dedup.d35_ensemble_neardup)
    assert jobs <= 6, jobs
