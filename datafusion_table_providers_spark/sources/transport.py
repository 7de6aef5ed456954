"""Remote-result transport: bounded driver materialization for federation.

Reference analog: federated fragments stream RecordBatches
(crates/common/src/sql/sql_provider_datafusion/federation.rs:81-95) — the
result never sits fully in one process unless it is small. The round-1 fast
path ran ``spark.createDataFrame(backend.query_arrow(sql))``, which
materializes the entire pushed-fragment result in driver memory with no
guard; fine for the aggregate/TopK results federation targets, a
scale-killer if a large pushed join slips through.

``materialize_remote`` streams the result batch-by-batch instead. Up to
``threshold_rows`` it stays an in-memory Arrow table (one driver hop —
cheapest for the small results the fast path is for). Past the threshold,
everything (already-buffered batches + the rest of the stream) is spooled to
a parquet file and read back through Spark's parquet source, so executors —
not the driver — hold the data. Driver memory is bounded by
``threshold_rows`` plus one batch, whatever the fragment returns.

On a real cluster pass ``spool_dir`` on shared storage (the same contract as
write.writer's spool transport); executor parquet reads need a path every
node sees. Its files are the caller's to remove. Without it, a spool lands in
``session.scratch_dir()``, which is removed at interpreter exit.
"""

from __future__ import annotations

import os
import uuid
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from datafusion_table_providers_spark.session import bounded_broadcast, scratch_dir

#: Above this many rows a pushed fragment is spooled instead of held on the
#: driver. ~250k rows of a typical aggregate result is tens of MB — well
#: inside driver headroom — while anything larger signals a fragment that
#: should not transit the driver at all.
DEFAULT_THRESHOLD_ROWS = 250_000


def materialize_remote(
    spark: SparkSession,
    backend,
    sql: str,
    threshold_rows: int = DEFAULT_THRESHOLD_ROWS,
    spool_dir: Optional[str] = None,
    broadcast_hint: bool = False,
) -> DataFrame:
    """Run ``sql`` on ``backend`` and return a DataFrame, spooling large
    results to parquet so they never fully materialize in driver memory."""
    # query_arrow_batches is part of the Backend contract (the base class
    # provides a re-chunking default), so every backend — including
    # third-party subclasses — goes through the spool guard below; the old
    # unguarded createDataFrame(query_arrow(...)) fallback is gone.
    batches_fn = backend.query_arrow_batches

    buffered = []
    rows = 0
    writer = None
    path = None
    try:
        for batch in batches_fn(sql):
            if writer is not None:
                writer.write_batch(batch)
                continue
            buffered.append(batch)
            rows += batch.num_rows
            if rows > threshold_rows:
                base = spool_dir or scratch_dir()
                path = os.path.join(base, f"fed_spool_{uuid.uuid4().hex}.parquet")
                writer = pq.ParquetWriter(path, buffered[0].schema)
                for b in buffered:
                    writer.write_batch(b)
                buffered = []
    finally:
        if writer is not None:
            writer.close()

    if path is not None:
        return spark.read.parquet(path)
    if not buffered:
        return spark.createDataFrame(backend.query_arrow(f"SELECT * FROM ({sql}) t LIMIT 0"))
    # the in-memory path KNOWS the fragment's row count (≤ threshold_rows)
    # — free statistics Catalyst never gets from a Python source.
    # ``broadcast_hint`` (set by partial-federation callers whose fragments
    # feed a downstream Spark join) hands that count to the broadcast gate,
    # so the join is a BroadcastHashJoin instead of a full shuffle.
    # Whole-query callers leave it off: the result reaches the user
    # directly and a dangling hint just logs a HintErrorLogger warning.
    df = spark.createDataFrame(pa.Table.from_batches(buffered))
    return bounded_broadcast(df, rows) if broadcast_hint else df
