"""SparkSession construction and scale-oriented tuning.

The reference has no parallelism of its own (every scan is
``UnknownPartitioning(1)`` — crates/common/src/sql/sql_provider_datafusion/
mod.rs:312-317); Spark gives us partitioned scans and shuffles for free.
These settings are the defaults we would ship on a 1000-executor cluster,
scaled down so they also behave on local[32]:

- AQE on (runtime coalescing / skew-join splitting) — replaces hand-tuned
  shuffle partition counts at 100 TB.
- Arrow-batched Python boundaries (Pandas UDFs, Python Data Source) —
  the analog of the reference's Arrow-everywhere design (§1.1).
- Join sides are Spark's choice: Catalyst sizes parquet tables and
  aggregates itself, and AQE re-plans from runtime statistics. Code that
  holds a row bound Catalyst cannot see (a driver-known query set, a
  connector row count) hints through ``bounded_broadcast``, the one
  broadcast gate of the package.

Importing this module (the package root does) also makes zip imports cheap
to invalidate in every process that loads the package, Python Data Source
planner and executor workers included, whoever built their session. Before
each planner call and each task a PySpark worker calls
``importlib.invalidate_caches()``, and CPython < 3.12's
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory at once. A Spark 4.1 worker holds 16 zip importers (sub-package
paths of ``pyspark.zip``, the py4j zip and the spark-core jar), so on
CPython 3.11 that call takes 80-120 ms, against 13 ms of DuckDB work in a
c01 scan. ``_guard_zip_invalidation`` re-reads an archive only when its
``(st_mtime_ns, st_size)`` stamp differs from the one taken before its last
read, so a rewritten or removed archive is still re-read (the stdlib
contract), and an unchanged one costs one ``stat``: the first call in a
process reads each archive once, later calls read none. CPython 3.12 made
the re-read lazy (gh-103200); there the guard does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Conservative defaults that scale: on a real cluster these are overridden by
#: site config; on local[32] they keep partitions sized to fit memory.
TUNING = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",  # 128 MiB splits
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # Streaming state lives off-heap in RocksDB instead of the default
    # in-memory HashMap provider: at 100 TB the stateful operators
    # (windowed counts, sessionization, stream-stream joins, streaming
    # dedup) hold state bounded only by the watermark horizon — RocksDB
    # keeps executor heap flat and spills to local disk. Runtime-mutable,
    # honored per-query at stream start; identical results (guide §5).
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}

#: row cap of ``bounded_broadcast``. A broadcast hint bypasses
#: autoBroadcastJoinThreshold, so the cap is the only thing between a hinted
#: side and the driver: 500k rows of a wide connector dim (a few hundred
#: bytes a row) is ~100 MB of hash relation, well under Spark's 8 GB /
#: 512M-row broadcast limit on driver and executors alike. Every measured
#: gated side is far below it (query sets of tens of rows, the synthesized
#: sf1 corpus's 50k docs, d26's 20k band rows, connector dims of 15k rows).
#: The dedup family's doc→group maps (two longs a row) were capped at 20M
#: rows before; corpora of 500k-20M docs (d26: over 125k reps) now leave
#: those joins to the planner, which is unmeasured.
BROADCAST_MAX_ROWS = 500_000


def _guard_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when it
    changed on disk (see the module docstring). Idempotent; no-op on 3.12+."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or hasattr(cls.invalidate_caches, "stamps"):
        return
    reread = cls.invalidate_caches
    stamps = {}  # archive -> (st_mtime_ns, st_size) before its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:  # gone: the stdlib method drops its cached directory
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    invalidate_caches.stamps = stamps
    cls.invalidate_caches = invalidate_caches


_guard_zip_invalidation()


def bounded_broadcast(df: DataFrame, n_rows: int) -> DataFrame:
    """``F.broadcast(df)`` when ``n_rows``, an upper bound on ``df``'s row
    count that the caller holds, fits under BROADCAST_MAX_ROWS (read at call
    time); else ``df``, and the planner picks the join."""
    return F.broadcast(df) if n_rows <= BROADCAST_MAX_ROWS else df


def get_spark(app_name: str = "datafusion_table_providers_spark") -> SparkSession:
    """Build (or reuse) a tuned SparkSession on local[$SPARK_GRAFT_CPUS]."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # JVM-launch-time settings (ignored on an already-running session):
        # 32 concurrent tasks deserializing wide plans need real heap.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in TUNING.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune_session(spark)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally provided session.

    The correctness driver owns its own SparkSession; everything here must be
    a runtime-mutable SQL conf (no core/executor settings).
    """
    for k, v in TUNING.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on live session
            pass
    return spark
