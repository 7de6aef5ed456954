"""Structured Streaming operators over the events stream.

Reference context: Flight unbounded streams are passthrough-only in the
reference (no stateful ops — SURVEY §2 'not present'); streaming *operators*
are a beyond-parity addition built the Spark-native way:

- ``event_stream``: file-source readStream (at scale: Kafka/Flight source —
  same downstream API) with the nanos→micros normalization the batch path
  uses;
- ``windowed_counts``: event-time tumbling window + watermark — late data
  beyond the watermark is dropped by Spark's state store;
- ``sessionize_stateful``: custom session-window operator via
  ``applyInPandasWithState`` (the reference has no analog; this is the
  canonical Spark pattern for custom stateful operators);
- ``run_available_now``: drain the stream with an availableNow trigger into
  a memory sink — batch-vs-stream parity is asserted in tests (the same
  aggregation over the same data must match the batch oracle).
"""

from __future__ import annotations

import os
from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from datafusion_table_providers_spark.core.case import events_ts_meta, utc


def _event_schema(ts_nanos: bool, ts_ntz: bool) -> StructType:
    if ts_nanos:
        # nanos testdata: raw int64 via nanosAsLong
        ts_type = LongType()
    elif ts_ntz:
        # MICROS with no tz annotation: the vectorized reader refuses to
        # read an NTZ column as LTZ, so the stream schema must say NTZ too.
        ts_type = TimestampNTZType()
    else:
        ts_type = TimestampType()
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    utc(spark)  # LTZ reads must collect session-timezone-independently
    nanos, ntz = events_ts_meta(sf_dir)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(_event_schema(nanos, ntz))
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    if nanos:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ntz:
        # Watermarks demand TIMESTAMP (LTZ). The read schema had to say NTZ
        # to match the file; with the session pinned to UTC above, this cast
        # is value-stable and matches the batch oracle.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_counts(
    stream: DataFrame, window: str = "6 hours", watermark: str = "1 hour"
) -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).start.alias("win_start"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)

GAP_US = 30 * 60 * 1_000_000


def _make_session_fn(flush_ms: int):
    """Build the per-group state function with the flush timeout baked in.

    The timeout must be captured in a CLOSURE (serialized by value), not a
    module global — executors re-import this module, so a driver-side
    global mutation would never reach them."""

    def _session_fn(
        key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Emit closed sessions; keep the open session in state.

        Event-time sessionization with a processing-time timeout as the
        flush mechanism (canonical applyInPandasWithState pattern)."""
        import datetime as dt

        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                start_us, last_us, n = state.get
                state.remove()
                yield pd.DataFrame(
                    {
                        "user_id": [user_id],
                        "session_start": [dt.datetime.utcfromtimestamp(start_us / 1e6)],
                        "session_end": [dt.datetime.utcfromtimestamp(last_us / 1e6)],
                        "n_events": [n],
                    }
                )
            return

        rows = pd.concat(list(pdfs)).sort_values("ts_us")
        closed = []
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        for ts_us in rows["ts_us"]:
            ts_us = int(ts_us)
            if start_us is None:
                start_us, last_us, n = ts_us, ts_us, 1
            elif ts_us - last_us > GAP_US:
                closed.append((start_us, last_us, n))
                start_us, last_us, n = ts_us, ts_us, 1
            else:
                last_us, n = ts_us, n + 1
        state.update((start_us, last_us, n))
        state.setTimeoutDuration(flush_ms)
        if closed:
            import datetime as dt

            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [
                        dt.datetime.utcfromtimestamp(s / 1e6) for s, _, _ in closed
                    ],
                    "session_end": [
                        dt.datetime.utcfromtimestamp(e / 1e6) for _, e, _ in closed
                    ],
                    "n_events": [c for _, _, c in closed],
                }
            )


    return _session_fn


def sessionize_stateful(stream: DataFrame, flush_ms: int = 60_000) -> DataFrame:
    """Custom stateful session-window operator (applyInPandasWithState).

    ``flush_ms`` is the processing-time timeout that flushes the open
    session. The 60s default fits a live stream; a bounded availableNow
    drain should pass something small (e.g. 500) — with a long timeout the
    availableNow trigger keeps scheduling empty micro-batches until every
    registered timeout expires, stretching a 5s drain to a minute."""
    prepared = stream.select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _make_session_fn(flush_ms),
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_to_backend(
    stream_df: DataFrame,
    backend,
    table: str,
    checkpoint_dir: str,
    on_conflict=None,
):
    """Stream → connector-write sink: ``foreachBatch`` feeding each
    micro-batch to the writer's transports — DuckDB's Arrow transport,
    SQLite's loop — so it commits through ``writer._commit_staged`` like
    every ``insert_into`` (reference analog: an unbounded Flight stream
    landing in a DuckDB table — the two halves exist separately in the
    reference; this joins them).

    Exactly-once across restarts: Spark's checkpoint makes batch ids stable,
    and every applied id is recorded in ``<table>__commits`` in the same
    transaction as the batch's rows, so a replayed batch (failure between
    sink write and checkpoint commit) is skipped and a crash between the
    two can never double-apply one — the micro-batch analog of the
    reference's staging-table transactional discipline (write.rs:558-710).
    Returns the StreamingQuery; callers ``awaitTermination``."""
    from datafusion_table_providers_spark.sources.backends import SQLiteBackend
    from datafusion_table_providers_spark.write import writer

    import uuid

    # Batch ids are only unique within one checkpoint *lineage* (a fresh
    # checkpoint restarts at 0), so the commit log is keyed per run — and a
    # run is identified by a marker INSIDE the checkpoint directory, not by
    # its path: deleting and recreating the same path is a new lineage and
    # must get a new run_id, or its batch 0 would be wrongly skipped.
    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, "__dtps_run_id")
    if os.path.exists(marker):
        with open(marker) as f:
            run_id = f.read().strip()
    else:
        run_id = uuid.uuid4().hex[:16]
        with open(marker, "w") as f:
            f.write(run_id)

    commits = f"{table}__commits"
    backend.execute(
        f'CREATE TABLE IF NOT EXISTS "{commits}" '
        f'("run_id" VARCHAR, "batch_id" BIGINT, '
        f'PRIMARY KEY ("run_id", "batch_id"))'
    )
    insert = (
        writer._insert_sqlite
        if isinstance(backend, SQLiteBackend)
        else writer._insert_duckdb
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        seen = backend.query_arrow(
            f'SELECT COUNT(*) AS n FROM "{commits}" '
            f"WHERE \"run_id\" = '{run_id}' AND \"batch_id\" = {batch_id}"
        )[0][0].as_py()
        if seen:
            return
        insert(backend, table, batch_df, "append", on_conflict, create=True,
               also=[f"INSERT INTO \"{commits}\" VALUES ('{run_id}', {batch_id})"])

    return (
        stream_df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_available_now(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain with availableNow into a memory sink; return the result table."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    spark = stream_df.sparkSession
    return spark.table(name)


def drain_stateful(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    empty_batches: int = 2,
    max_wait_s: float = 120.0,
) -> DataFrame:
    """Drain a STATEFUL availableNow query that registers processing-time
    timeouts. Such a query never self-terminates: after the data batches,
    the trigger keeps scheduling empty micro-batches so expired timeouts can
    fire (observed: one ~1s empty batch per second, forever). This waits for
    the data to be processed plus ``empty_batches`` consecutive empty
    batches (the first of which fires every expired timeout), then stops the
    query explicitly and returns the sink table."""
    import time as _time

    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    t0 = _time.time()
    seen_data = False
    empties = 0
    last_batch = -1
    while q.isActive and _time.time() - t0 < max_wait_s:
        _time.sleep(0.2)
        lp = q.lastProgress
        if not lp or lp["batchId"] == last_batch:
            continue
        last_batch = lp["batchId"]
        if lp["numInputRows"] > 0:
            seen_data = True
            empties = 0
        elif seen_data:
            empties += 1
            if empties >= empty_batches:
                break
    q.stop()
    q.awaitTermination(30)
    return stream_df.sparkSession.table(name)
