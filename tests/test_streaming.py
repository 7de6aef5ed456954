"""Structured Streaming tests: stream results must match the batch oracle
(windowed counts), and the custom stateful sessionizer must produce sane
sessions. Uses availableNow triggers so tests are bounded."""

import pytest
from pyspark.sql import functions as F

from datafusion_table_providers_spark.sources.backends import (
    DuckDBBackend,
    SQLiteBackend,
)
from datafusion_table_providers_spark.streaming.events import (
    event_stream,
    run_available_now,
    sessionize_stateful,
    windowed_counts,
)

SF = "/root/testdata/sf0.001"


def test_windowed_counts_match_batch(spark):
    stream = event_stream(spark, SF)
    assert stream.isStreaming
    result = run_available_now(
        windowed_counts(stream), "win_counts", output_mode="complete"
    )
    got = {
        (r["win_start"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in result.collect()
    }
    # batch oracle over the same file
    from datafusion_table_providers_spark.operators.relational import _t

    batch = (
        _t(spark, SF, "events")
        .groupBy(F.window("ts", "6 hours").start.alias("win_start"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )
    want = {
        (r["win_start"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in batch.collect()
    }
    # memory-sink timestamps come back tz-naive in session UTC — compare sets
    assert len(got) == len(want)
    assert sorted(v for v in got.values()) == sorted(v for v in want.values())


def test_stateful_sessionizer_runs(spark):
    from datafusion_table_providers_spark.streaming.events import drain_stateful

    stream = event_stream(spark, SF)
    # drain_stateful, not run_available_now: a stateful query with
    # processing-time timeouts never self-terminates under availableNow, so
    # the plain helper would burn its full awaitTermination cap
    sessions = drain_stateful(
        sessionize_stateful(stream, flush_ms=500),
        "sessions_out",
        output_mode="append",
    )
    rows = sessions.collect()
    # closed sessions only (open ones stay in state) — all must be valid
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1


@pytest.mark.parametrize("backend", [DuckDBBackend, SQLiteBackend],
                         ids=lambda cls: cls.__name__)
def test_stream_to_backend_sink_idempotent(spark, tmp_path, backend):
    """Stream → connector sink: row parity with batch, and a restart
    from the same checkpoint must not duplicate rows (commit-log dedup)."""
    from datafusion_table_providers_spark.streaming.events import (
        event_stream,
        stream_to_backend,
    )

    be = backend(str(tmp_path / "sink.db"))
    ckpt = str(tmp_path / "ckpt")

    q = stream_to_backend(event_stream(spark, SF), be, "events_sink", ckpt)
    q.awaitTermination(120)

    from datafusion_table_providers_spark.operators.relational import _t

    want = _t(spark, SF, "events").count()
    got = be.query_arrow('SELECT COUNT(*) AS n FROM "events_sink"')[0][0].as_py()
    assert got == want and want > 0

    # restart with the same checkpoint: no new data → no growth, no dup
    q2 = stream_to_backend(event_stream(spark, SF), be, "events_sink", ckpt)
    q2.awaitTermination(120)
    got2 = be.query_arrow('SELECT COUNT(*) AS n FROM "events_sink"')[0][0].as_py()
    assert got2 == want


def test_stream_stream_interval_join_matches_batch(spark):
    """Stream-stream interval join drains to the same pairs the identical
    batch join produces (append mode; watermarks bound state)."""
    from datafusion_table_providers_spark.operators.relational import _t
    from datafusion_table_providers_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    joined = stream_stream_interval_join(
        event_stream(spark, SF), event_stream(spark, SF)
    )
    assert joined.isStreaming
    got = run_available_now(joined, "ss_join", output_mode="append")
    batch_e = _t(spark, SF, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    l, r = batch_e.alias("l"), batch_e.alias("r")
    want = l.join(
        r,
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 30 minutes")),
    )
    assert got.count() == want.count() > 0


def test_stream_static_enrich_no_state(spark):
    from datafusion_table_providers_spark.streaming.joins import (
        stream_static_enrich,
    )

    dim = spark.range(0, 10000).select(
        F.col("id").alias("user_id"), (F.col("id") % 5).alias("segment")
    )
    enriched = stream_static_enrich(event_stream(spark, SF), dim)
    out = run_available_now(enriched, "enrich", output_mode="append")
    n_events = out.sparkSession.read.parquet(f"{SF}/events.parquet").count()
    assert out.count() == n_events  # left join keeps every event
    assert out.filter(F.col("segment").isNotNull()).count() > 0


def test_streaming_state_store_is_rocksdb(spark):
    """Session TUNING pins the RocksDB state-store provider (state off-heap
    on local disk — the bounded-memory shape for 100 TB watermark state).
    Assert a LIVE stateful query actually runs on it by reading the
    rocksdb custom metrics out of the query progress, not just the conf."""
    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )
    q = (
        windowed_counts(event_stream(spark, SF))
        .writeStream.format("memory")
        .queryName("rocksdb_probe")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    progress = q.recentProgress
    q.stop()
    metrics = set()
    for p in progress:
        for op in p.get("stateOperators") or []:
            metrics.update((op.get("customMetrics") or {}).keys())
    assert any(k.startswith("rocksdb") for k in metrics), sorted(metrics)
