"""Load the TPC-H-ish parquet tables (TESTDATA.md) as Spark temp views.

The table registry itself — the ``DatabaseSchemaProvider`` analog
(crates/common/src/common.rs:18-95) that names native, connector-backed and
federated tables — is ``engine.Engine`` (``register_parquet``,
``register_dataframe``, ``register_backend_table``). Large fact tables are
read directly as parquet so the scan parallelism is Spark-native.
"""

from __future__ import annotations

import os
from typing import Dict, Iterable

from pyspark.sql import DataFrame, SparkSession

from datafusion_table_providers_spark.operators.relational import _scan

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
        df = _scan(spark, path)[0]
        out[name] = df
        if register_views:
            df.createOrReplaceTempView(name)
    return out

