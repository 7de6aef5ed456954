"""Catalog / schema provider: register external tables as Spark views.

Reference analog: ``DatabaseSchemaProvider`` lists remote schemas and tables
and lazily builds a provider per table (crates/common/src/common.rs:18-95);
DuckDB attach + search-path handling (crates/duckdb/src/conn.rs:101-305).

Spark-first design: every registered table becomes a temp view backed either
by a native file source (parquet — Catalyst handles partition pruning,
predicate pushdown and column pruning) or by one of our Python Data Source
connectors (duckdb/sqlite/...). Large fact tables should be read directly as
parquet so the scan parallelism is Spark-native.
"""

from __future__ import annotations

import os
from typing import Dict, Iterable, Optional

from pyspark.sql import DataFrame, SparkSession

#: The driver's TPC-H-ish star schema plus pipeline tables (TESTDATA.md).
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: Iterable[str] = TPCH_TABLES,
    register_views: bool = True,
) -> Dict[str, DataFrame]:
    """Load the driver's parquet tables; optionally register temp views.

    Parquet is read through Spark's native DSv2 source so filter/projection
    pushdown reaches the scan (verify with ``df.explain`` → PushedFilters).
    """
    out: Dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    return out


class Catalog:
    """Session-scoped registry of engine tables across backends.

    ``Catalog.register_parquet`` / ``register_dataframe`` register Spark-native
    tables; connector modules (sources/) register their own through
    ``register_connector_table`` so the federation layer can see which tables
    share a compute context (reference: JoinPushDown::AllowedFor —
    crates/common/src/sql/db_connection_pool/mod.rs:49-57).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        # table name -> compute context string (None = Spark-native)
        self._contexts: Dict[str, Optional[str]] = {}
        # table name -> remote name (for SQL generation when federating)
        self._remote_names: Dict[str, str] = {}

    def register_parquet(self, name: str, path: str) -> DataFrame:
        df = self.spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        self._contexts[name] = None
        return df

    def register_dataframe(self, name: str, df: DataFrame) -> DataFrame:
        df.createOrReplaceTempView(name)
        self._contexts[name] = None
        return df

    def register_connector_table(
        self,
        name: str,
        df: DataFrame,
        compute_context: str,
        remote_name: Optional[str] = None,
    ) -> DataFrame:
        """Register a connector-backed view plus its federation context.

        ``compute_context`` mirrors the reference's per-pool context string
        (host/port/db for Postgres — crates/postgres/src/pool.rs:513-529;
        file path + attach list for SQLite — crates/sqlite/src/pool.rs:51-90).
        Tables sharing a context may be collapsed into ONE pushed query.
        """
        df.createOrReplaceTempView(name)
        self._contexts[name] = compute_context
        self._remote_names[name] = remote_name or name
        return df

    def compute_context(self, name: str) -> Optional[str]:
        return self._contexts.get(name)

    def remote_name(self, name: str) -> str:
        return self._remote_names.get(name, name)

    def tables(self) -> Dict[str, Optional[str]]:
        return dict(self._contexts)
