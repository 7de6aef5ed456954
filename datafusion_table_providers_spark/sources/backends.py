"""Embedded SQL backends: connection management + Arrow result streams.

Reference analog: the ``DbConnectionPool`` trait and its DuckDB/SQLite
implementations (crates/common/src/sql/db_connection_pool/mod.rs:20-100,
crates/duckdb/src/pool.rs, crates/sqlite/src/pool.rs). ``query_arrow`` is the
single read primitive (dbconnection.rs:77-82); here that is
``Backend.query_arrow(sql) -> pyarrow.Table``.

Each backend exposes a ``compute_context`` string — the federation key: two
tables whose backends share a context can be answered by ONE pushed SQL
statement (reference JoinPushDown::AllowedFor, db_connection_pool/mod.rs:49-57;
per-pool context strings crates/sqlite/src/pool.rs:51-90).

``AccessMode`` and the settings dict mirror the DuckDB settings registry
(crates/duckdb/src/settings.rs) and access modes (crates/duckdb/src/pool.rs).
"""

from __future__ import annotations

import sqlite3
import threading
from contextlib import contextmanager
from typing import Dict, Iterable, Optional, Tuple

import pyarrow as pa

from datafusion_table_providers_spark.core.expr import (
    DIALECTS,
    Dialect,
)


@contextmanager
def _transaction(lock, connect):
    """``connect()`` under ``lock``, inside ``BEGIN``: commit on exit,
    roll back on error."""
    with lock:
        con = connect()
        con.execute("BEGIN")
        try:
            yield con
            con.commit()
        except BaseException:
            con.rollback()
            raise


class Backend:
    """One logical remote engine instance (file / memory database)."""

    dialect: Dialect

    def compute_context(self) -> str:
        raise NotImplementedError

    def query_arrow(self, sql: str) -> pa.Table:
        raise NotImplementedError

    def query_arrow_batches(self, sql: str, batch_size: int = 65536):
        """Stream the result as RecordBatches — part of the Backend
        contract (transport.materialize_remote consumes ONLY this, never
        query_arrow, so its spool guard bounds every backend's Spark-side
        path). Subclasses SHOULD override with a true incremental fetch —
        both shipped backends do (DuckDB fetch_record_batch, SQLite chunked
        fetchmany). This default re-chunks one query_arrow table: driver
        memory transiently holds the full Arrow result, but the expensive
        full-result driver→JVM createDataFrame hop can no longer be
        reintroduced by a third-party backend that forgot to implement
        streaming."""
        yield from self.query_arrow(sql).to_batches(max_chunksize=batch_size)

    def execute(self, sql: str, params: Optional[Iterable] = None) -> int:
        raise NotImplementedError

    def table_names(self) -> list:
        raise NotImplementedError


class DuckDBBackend(Backend):
    """Embedded DuckDB database (memory or file mode).

    - ``parquet_tables`` maps logical names to parquet paths registered as
      views over ``read_parquet`` — the reference's table-function CTE scan
      (crates/duckdb/src/sql_table.rs:30-60, conn.rs:654-672).
    - ``settings`` are applied per-connection (`SET k = v`) like the
      reference's settings registry (crates/duckdb/src/settings.rs:110-300).
    - ``attach`` lists extra database files; they join the compute context so
      cross-database queries still federate (crates/duckdb/src/conn.rs:101-305).
    """

    def __init__(
        self,
        path: str = ":memory:",
        read_only: bool = False,
        settings: Optional[Dict[str, str]] = None,
        parquet_tables: Optional[Dict[str, str]] = None,
        attach: Tuple[str, ...] = (),
    ):
        self.path = path
        self.read_only = read_only and path != ":memory:"
        self.settings = dict(settings or {})
        self.parquet_tables = dict(parquet_tables or {})
        self.attach = tuple(attach)
        self.dialect = DIALECTS["duckdb"]
        # RLock: query_arrow_batches holds the lock across its yields (an
        # interleaved execute() on the same DuckDB connection invalidates the
        # open streaming result, so per-chunk locking is NOT safe here); the
        # reentrant lock at least lets the same thread call other backend
        # methods mid-iteration without deadlocking itself.
        self._lock = threading.RLock()
        self._con = None

    def _connect(self):
        import duckdb

        if self._con is None:
            kwargs = {}
            if self.path != ":memory:":
                kwargs["read_only"] = self.read_only
            self._con = duckdb.connect(self.path, **kwargs)
            for k, v in self.settings.items():
                self._con.execute(f"SET {k} = '{v}'")
            for db in self.attach:
                self._con.execute(f"ATTACH '{db}'")
            for name, pq_path in self.parquet_tables.items():
                self._con.execute(
                    f'CREATE OR REPLACE VIEW "{name}" AS '
                    f"SELECT * FROM read_parquet('{pq_path}')"
                )
        return self._con

    def compute_context(self) -> str:
        return "duckdb:" + self.path + ";attach=" + ",".join(sorted(self.attach))

    def query_arrow(self, sql: str) -> pa.Table:
        with self._lock:
            return self._connect().execute(sql).fetch_arrow_table()

    def query_arrow_batches(self, sql: str, batch_size: int = 65536):
        with self._lock:
            reader = self._connect().execute(sql).fetch_record_batch(batch_size)
            while True:
                try:
                    yield reader.read_next_batch()
                except StopIteration:
                    return

    def execute(self, sql: str, params: Optional[Iterable] = None) -> int:
        with self._lock:
            con = self._connect()
            cur = con.execute(sql, list(params) if params is not None else None)
            try:
                row = cur.fetchone()
            except Exception:
                row = None
            return int(row[0]) if row and isinstance(row[0], int) else 0

    def transaction(self):
        """The connection with the backend lock held, inside ``BEGIN``;
        commits on exit, rolls back on error. DuckDB's DDL is
        transactional, so a write's CREATE, overwrite step and ingest
        commit together."""
        return _transaction(self._lock, self._connect)

    def register_arrow(self, name: str, table: pa.Table) -> None:
        with self._lock:
            self._connect().register(name, table)

    def unregister(self, name: str) -> None:
        with self._lock:
            self._connect().unregister(name)

    def close(self) -> None:
        """Release the RW connection so read-only scanners (executor
        processes) can open the file — DuckDB allows one RW process or many
        RO processes, the same exclusivity the reference's write-gate RwLock
        models (crates/duckdb/src/pool.rs:318)."""
        with self._lock:
            if self._con is not None:
                self._con.close()
                self._con = None

    def table_names(self) -> list:
        with self._lock:
            rows = self._connect().execute("SHOW TABLES").fetchall()
        return [r[0] for r in rows]

    def schema_arrow(self, relation_sql: str) -> pa.Schema:
        with self._lock:
            return (
                self._connect()
                .execute(f"SELECT * FROM {relation_sql} LIMIT 0")
                .fetch_arrow_table()
                .schema
            )


class SQLiteBackend(Backend):
    """Embedded SQLite database via the stdlib driver.

    Row results are converted to Arrow columnar batches — the analog of the
    per-backend ``rows_to_arrow`` (crates/sqlite/src/arrow_sql_gen.rs).
    """

    def __init__(self, path: str = ":memory:", attach: Tuple[str, ...] = ()):
        self.path = path
        self.attach = tuple(attach)
        self.dialect = DIALECTS["sqlite"]
        self._lock = threading.Lock()
        self._con: Optional[sqlite3.Connection] = None

    def _connect(self) -> sqlite3.Connection:
        if self._con is None:
            self._con = sqlite3.connect(self.path, check_same_thread=False)
            for i, db in enumerate(self.attach):
                self._con.execute(f"ATTACH DATABASE ? AS attach_{i}", (db,))
        return self._con

    def compute_context(self) -> str:
        return "sqlite:" + self.path + ";attach=" + ",".join(sorted(self.attach))

    def query_arrow(self, sql: str) -> pa.Table:
        with self._lock:
            cur = self._connect().execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
        arrays = list(zip(*rows)) if rows else [[] for _ in cols]
        return pa.table({c: list(v) for c, v in zip(cols, arrays)})

    def query_arrow_batches(self, sql: str, batch_size: int = 65536):
        """Chunked ``fetchmany`` → RecordBatch stream (same converter shape
        as dbapi_source.read); driver memory is bounded by ``batch_size``
        rows per chunk, which lets ``materialize_remote``'s spool guard
        cover SQLite federation instead of falling back to a full driver
        materialization.

        SQLite has no static result types, so Arrow types are inferred from
        observed values. Chunks are buffered (not yielded) only until every
        column has produced at least one non-NULL value, so a column that is
        all-NULL in the leading chunks (NULLS-FIRST sort, sparse column) is
        typed from the first chunk that carries a value instead of freezing
        at ``pa.null()`` and failing on the next chunk. A column NULL for
        the entire result stays ``pa.null()``; in that worst case buffering
        degrades to full materialization — exactly ``query_arrow``'s
        footprint, so never a regression. A column whose concrete type
        genuinely changes mid-stream (legal under SQLite's dynamic typing)
        still fails loudly — CAST it in the SQL.

        The backend lock is held per ``fetchmany`` call, not across yields,
        so a consumer that calls other locked methods while iterating (or
        abandons the generator) cannot deadlock or wedge the backend.
        """
        with self._lock:
            cur = self._connect().execute(sql)
            cols = [d[0] for d in cur.description]
        types: list = [None] * len(cols)
        pending: list = []
        schema = None

        def _build(columns, schema):
            arrays = [
                pa.array(c, type=f.type) for c, f in zip(columns, schema)
            ]
            return pa.record_batch(arrays, schema=schema)

        while True:
            with self._lock:
                rows = cur.fetchmany(batch_size)
            if not rows:
                break
            columns = [list(c) for c in zip(*rows)]
            if schema is None:
                for i, c in enumerate(columns):
                    if types[i] is None:
                        t = pa.array(c).type
                        if not pa.types.is_null(t):
                            types[i] = t
                pending.append(columns)
                if all(t is not None for t in types):
                    schema = pa.schema(
                        [pa.field(n, t) for n, t in zip(cols, types)]
                    )
                    for p in pending:
                        yield _build(p, schema)
                    pending = []
            else:
                yield _build(columns, schema)
        if schema is None and pending:
            schema = pa.schema(
                [
                    pa.field(n, t if t is not None else pa.null())
                    for n, t in zip(cols, types)
                ]
            )
            for p in pending:
                yield _build(p, schema)

    def execute(self, sql: str, params: Optional[Iterable] = None) -> int:
        return self._commit(lambda con: con.execute(sql, tuple(params or ())))

    def executemany(self, sql: str, seq) -> int:
        return self._commit(lambda con: con.executemany(sql, seq))

    def _commit(self, call) -> int:
        """One auto-committed call. A failure rolls back what the call left
        pending (an ``executemany`` that fails on its Nth row has run the
        rows before it), so the next call's commit cannot land it."""
        with self._lock:
            con = self._connect()
            try:
                cur = call(con)
                con.commit()
            except BaseException:
                con.rollback()
                raise
            return cur.rowcount if cur.rowcount >= 0 else 0

    def transaction(self):
        """The connection with the backend lock held, inside an explicit
        ``BEGIN`` (sqlite3 opens no transaction of its own before DDL);
        commits on exit, rolls back on error. Every write commits through
        one: a staged insert's DDL, rows and the stream sink's commit-log
        marker land together or not at all, which the per-call auto-commit
        of execute/executemany cannot do."""
        return _transaction(self._lock, self._connect)

    def table_names(self) -> list:
        with self._lock:
            rows = self._connect().execute(
                "SELECT name FROM sqlite_master WHERE type IN ('table','view')"
            ).fetchall()
        return [r[0] for r in rows]
