"""SQLite connector: the stdlib ``sqlite3`` DB-API driver behind the DB-API
reader.

Reference analog: crates/sqlite — a sync driver bridged to the async engine
(db_connection_pool/runtime.rs). ``sqlite3`` is a DB-API 2.0 driver, so a
SQLite scan is a ``dbapi_engine`` scan with module ``sqlite3`` and dialect
``sqlite``: the driver runs inside the executor task and row chunks become
Arrow batches through the DB-API reader's one rows→Arrow converter (the
analog of crates/sqlite/src/arrow_sql_gen.rs).

This module is driver-side only. It turns the ``PRAGMA table_info`` type
affinities into the scan's declared schema DDL (declared-DDL mode,
reference crates/sqlite/src/lib.rs:260-417) and calls ``dbapi_reader_df``;
filters are pushed as SQL via the shared unparser with the same
Exact/unsupported split.
"""

from __future__ import annotations

import sqlite3
from contextlib import closing

from pyspark.sql import DataFrame, SparkSession

from datafusion_table_providers_spark.sources.dbapi_source import dbapi_reader_df

_AFFINITY = {
    "INT": "BIGINT",
    "INTEGER": "BIGINT",
    "BIGINT": "BIGINT",
    "REAL": "DOUBLE",
    "FLOAT": "DOUBLE",
    "DOUBLE": "DOUBLE",
    "TEXT": "STRING",
    "VARCHAR": "STRING",
    "BLOB": "BINARY",
    "BOOLEAN": "BOOLEAN",
}


def _decl_to_spark(decl: str) -> str:
    decl = (decl or "").upper()
    for key, t in _AFFINITY.items():
        if key in decl:
            return t
    return "STRING"  # SQLite's dynamic typing fallback


def _declared_ddl(path: str, relation: str) -> str:
    """The table's Spark schema DDL from ``PRAGMA table_info``."""
    with closing(sqlite3.connect(path)) as con:
        info = con.execute(f"PRAGMA table_info({relation})").fetchall()
    if not info:
        raise ValueError(f"no such sqlite table: {relation}")
    return ", ".join(
        "`{}` {}{}".format(
            name.replace("`", "``"),
            _decl_to_spark(decl),
            " NOT NULL" if notnull else "",
        )
        for (_, name, decl, notnull, _, _) in info
    )


def sqlite_reader_df(
    spark: SparkSession, backend, relation: str, columns=None,
    auto_broadcast: bool = False,
    extra_where=None,
) -> DataFrame:
    """``auto_broadcast=True``: consult the row-count statistic and attach
    a broadcast join hint under ``bounded_broadcast``'s cap (A15 —
    Python-DS scans report no stats, so Catalyst would otherwise
    shuffle-join every connector dim; same contract as
    ``duckdb_reader_df``)."""
    if backend.path == ":memory:":
        raise ValueError(
            "in-memory SQLite is process-local; use a file-mode backend "
            "or Engine.sql federation"
        )
    return dbapi_reader_df(
        spark,
        "sqlite3",
        relation,
        connect_args=[backend.path],
        dialect="sqlite",
        columns=columns,
        schema_ddl=_declared_ddl(backend.path, relation),
        auto_broadcast=auto_broadcast,
        extra_where=extra_where,
    )
