"""Python worker daemon of ``get_spark`` sessions (see ``session.py``).

Spark runs ``python -m <this module> <worker module>``. It loads what
connector scans and write tasks import, then serves as ``pyspark.daemon``
does, so every worker it forks starts with those modules loaded.

The daemon forks with native threads alive, as ``pyspark.daemon`` does with
OpenBLAS's: importing DuckDB 1.0 starts its default connection's scheduler
threads. They sit idle, and a forked worker still runs queries on the
default connection and on new ones.
"""

import importlib

import duckdb  # noqa: F401
import pandas  # noqa: F401  (pyarrow's lazy import on a worker's first pa.array)
import pyarrow  # noqa: F401
from pyspark import daemon

import datafusion_table_providers_spark.sources.dbapi_source  # noqa: F401
import datafusion_table_providers_spark.sources.duckdb_source  # noqa: F401
import datafusion_table_providers_spark.write.writer  # noqa: F401

if __name__ == "__main__":
    importlib.invalidate_caches()  # stamp the zips once, not in every fork
    daemon.manager()
