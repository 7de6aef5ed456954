"""Write path: append / overwrite / upsert / DELETE / UPDATE.

Reference analog (crates/duckdb/src/write.rs, crates/common/src/util/dml.rs):

- INSERT: input stream → staging relation → single-transaction
  ``INSERT INTO t SELECT * FROM staging [ON CONFLICT ...]`` (write.rs:377-711,
  staging `write_to_table` :920-987), ANALYZE after (:989-996). Every
  writer — DuckDB's Arrow and spool transports, SQLite's loop and staged
  transports, ``distributed_insert`` and the stream sink — stages its rows
  in the sink and commits through ONE function, ``_commit_staged``, inside
  one transaction: check the primary key on the staging relation with one
  sink-side query (``constraints.validate_unique``, write.rs:466-476),
  ``CREATE TABLE IF NOT EXISTS``, the overwrite step, the ingest. A
  rejected batch or a failed ingest lands no row and creates no table,
  and the check runs no Spark job.
- INSERT overwrite: the same commit with the target emptied first, in the
  same transaction, so readers see the old rows or the new ones (the
  reference swaps a view or the DB file, write.rs:712-880 + file_swap.rs;
  the embedded engines' transactional DDL is the atomicity point here).
  The target keeps its columns, constraints and indexes.
- DELETE / UPDATE: filters → remote ``DELETE FROM t WHERE ...`` /
  ``UPDATE t SET ... WHERE ...`` returning affected counts as one-row results
  (dml.rs:19-199, count_exec.rs).

Getting the rows to the sink: the Arrow transport brings the DataFrame over
with ``toArrow``, the SQLite loop with ``toLocalIterator`` (one partition at
a time — the reference's bounded-channel single writer, write.rs:409-421);
the spool transport and ``distributed_insert`` write from the executors, so
no row transits the driver.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager
from itertools import islice
from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame

from datafusion_table_providers_spark.core.expr import DIALECTS
from datafusion_table_providers_spark.core.types import create_table_ddl
from datafusion_table_providers_spark.write.statement import (
    render_delete,
    render_insert,
    render_update,
)
from datafusion_table_providers_spark.sources.backends import (
    Backend,
    DuckDBBackend,
    SQLiteBackend,
)
# Called through this module's names, so perfbench/trace.py times the key
# check as write.constraint_s. validate_not_null is not called here
# (validate_unique checks NULL keys in the same query); the tracer patches
# both names.
from datafusion_table_providers_spark.write.constraints import (  # noqa: F401
    validate_not_null,
    validate_unique,
)
from datafusion_table_providers_spark.write.on_conflict import OnConflict


def _num_partitions(df: DataFrame) -> int:
    """Planned partition count used only to pick a transport (arrow/loop vs
    spool/staged). ``df.rdd`` is unavailable under Spark Connect — there,
    fall back to the session's shuffle parallelism, which errs toward the
    distributed transport (the safe direction for an unknown-size input)."""
    try:
        return df.rdd.getNumPartitions()
    except Exception:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))


def create_table(
    backend: Backend,
    table: str,
    schema,
    primary_keys: Sequence[str] = (),
    if_not_exists: bool = True,
    indexes: Dict[str, bool] = None,
) -> None:
    """CREATE TABLE from a Spark schema + optional indexes.

    Index management parity: crates/duckdb/src/creator.rs:288-418 (CREATE
    [UNIQUE] INDEX), PK columns in CREATE TABLE (statement.rs:127-134).
    ``indexes`` maps "col" or "col1,col2" → unique?"""
    ddl = create_table_ddl(
        table,
        schema,
        backend.dialect.name,
        primary_keys=tuple(primary_keys),
        if_not_exists=if_not_exists,
    )
    backend.execute(ddl)
    for cols, unique in (indexes or {}).items():
        col_list = ", ".join(f'"{c.strip()}"' for c in cols.split(","))
        idx_name = f"idx_{table}_{cols.replace(',', '_').replace(' ', '')}"
        u = "UNIQUE " if unique else ""
        backend.execute(
            f'CREATE {u}INDEX IF NOT EXISTS "{idx_name}" ON "{table}" ({col_list})'
        )


def insert_into(
    backend: Backend,
    table: str,
    df: DataFrame,
    mode: str = "append",
    on_conflict: Optional[OnConflict] = None,
    primary_keys: Sequence[str] = (),
    create: bool = True,
    via: str = "auto",
    spool_dir: Optional[str] = None,
) -> int:
    """Append/overwrite `df` into a backend table; returns row count.

    ``via`` selects the transport for DuckDB sinks:

    - ``"arrow"`` — ``df.toArrow()`` on the driver, registered as the staging
      relation. One driver-side materialization; right for small frames.
    - ``"spool"`` — executors write the DataFrame as parquet in parallel to a
      spool directory, then ONE ``INSERT … SELECT … FROM read_parquet(glob)``
      ingests it. Driver memory stays constant no matter the input size —
      this is the 100 TB path. On a cluster the spool dir MUST be storage
      both executors and the sink host can read (shared FS / object store):
      pass it via ``spool_dir``. With no ``spool_dir``, a driver-local temp
      dir is used — valid only under a ``local[*]`` master, enforced.
      The commit (single transaction, ON CONFLICT, ANALYZE after) is the
      Arrow transport's.
    - ``"auto"`` — spool when the input has >8 partitions AND a valid spool
      location exists (``spool_dir`` given, or local master); arrow
      otherwise.

    Every transport commits through ``_commit_staged``: with
    ``primary_keys`` the staged rows are checked first
    (``validate_unique``); a violation raises ``ConstraintViolation`` and,
    like any failed ingest, leaves the sink as it was.
    """
    keys = tuple(primary_keys)
    local = df.sparkSession.conf.get("spark.master", "").startswith("local")
    if isinstance(backend, DuckDBBackend):
        if via == "auto":
            via = (
                "spool"
                if _num_partitions(df) > 8
                and _spool_safe(df.schema)
                and (spool_dir is not None or local)
                else "arrow"
            )
        if via == "spool" and spool_dir is None and not local:
            raise ValueError(
                "spool transport on a non-local master needs spool_dir "
                "on shared storage readable by the sink host"
            )
        return _insert_duckdb(backend, table, df, mode, on_conflict, keys,
                              create, via, spool_dir)
    if isinstance(backend, SQLiteBackend):
        # For SQLite, ``via`` is "loop" (toLocalIterator prepared-statement
        # batches — every row transits the driver, right for small frames)
        # or "staged" (distributed_insert: executors append directly into a
        # staging table via their own sqlite3 connections, driver only runs
        # the final INSERT…SELECT commit — the scale path; writers serialize
        # on SQLite's file lock but the data never funnels through the
        # driver). "auto" picks staged for >8-partition inputs when the
        # database is a real file under a local master; on a cluster pass
        # via="staged" explicitly only if the file is on storage every
        # executor can open safely.
        if via in ("auto", "arrow", "spool"):
            via = (
                "staged"
                if _num_partitions(df) > 8
                and backend.path != ":memory:"
                and local
                else "loop"
            )
        if via == "staged":
            return distributed_insert(
                df,
                table,
                "sqlite3",
                connect_args=(backend.path,),
                connect_kwargs={"timeout": 120.0},
                dialect_name="sqlite",
                on_conflict=on_conflict,
                create=create,
                primary_keys=keys,
                mode=mode,
            )
        return _insert_sqlite(backend, table, df, mode, on_conflict, keys, create)
    raise ValueError(f"no write support for backend {backend}")


def _spool_safe(schema) -> bool:
    """Interval columns lose their logical type through a parquet round-trip
    (Spark writes them as plain INT64, which the sink can't cast back to
    INTERVAL) — those schemas must take the Arrow transport, which preserves
    Duration/Interval logical types end-to-end."""
    from pyspark.sql import types as T

    def ok(dt) -> bool:
        if isinstance(dt, (T.DayTimeIntervalType, T.YearMonthIntervalType)):
            return False
        # Spark 4.1's parquet writer rejects TIME (UNSUPPORTED_TIME_TYPE);
        # Arrow transport carries time64 natively
        if hasattr(T, "TimeType") and isinstance(dt, T.TimeType):
            return False
        if isinstance(dt, T.ArrayType):
            return ok(dt.elementType)
        if isinstance(dt, T.MapType):
            return ok(dt.keyType) and ok(dt.valueType)
        if isinstance(dt, T.StructType):
            return all(ok(f.dataType) for f in dt.fields)
        return True

    return all(ok(f.dataType) for f in schema.fields)


def _insert_duckdb(backend, table, df, mode, on_conflict, keys=(), create=False,
                   via="arrow", spool_dir=None, also=()) -> int:
    """DuckDB's transports: stage `df` as a registered Arrow table
    (``via="arrow"``) or a parquet spool (``"spool"``), commit it through
    ``_commit_staged`` in one transaction, then ANALYZE (write.rs:989-996).
    Returns the staged row count."""
    if via == "spool":
        stage = _spool_stage(df, spool_dir)
    else:
        stage = _arrow_stage(backend, df)
    with stage as (relation, n), backend.transaction() as con:
        checked, _ = _commit_staged(con.execute, "duckdb", table, df.schema,
                                    relation, keys, create, mode, on_conflict,
                                    also)
        if n is None:
            n = checked if keys else con.execute(
                f"SELECT COUNT(*) FROM {relation}").fetchone()[0]
    backend.execute(f'ANALYZE "{table}"')
    return n


@contextmanager
def _spool_stage(df, spool_dir=None):
    """Executor-parallel staging: partitions land as parquet files written
    by the cluster, and the embedded sink reads them back with its native
    parquet scanner. Serialization work is distributed across executors
    (the reference's single writer thread only ever sees Arrow it must
    build itself — write.rs:413); the driver never holds data. Yields the
    ``read_parquet`` glob and no row count; the spool is removed on exit."""
    if not _spool_safe(df.schema):
        raise ValueError(
            "interval columns cannot take the spool transport (parquet "
            "round-trip drops the logical type); use via='arrow'"
        )
    if spool_dir is not None:
        spool = os.path.join(spool_dir, f"dtps_spool_{uuid.uuid4().hex[:12]}")
    else:
        spool = tempfile.mkdtemp(prefix="dtps_spool_")
    try:
        df.write.mode("overwrite").parquet(spool)
        yield f"read_parquet('{spool}/*.parquet')", None
    finally:
        shutil.rmtree(spool, ignore_errors=True)


@contextmanager
def _arrow_stage(backend, df):
    """``df.toArrow()`` registered as the staging relation (Arrow end to
    end, no row-wise conversion); yields it and its row count."""
    arrow = df.toArrow()
    staging = f"staging_{uuid.uuid4().hex[:12]}"
    backend.register_arrow(staging, arrow)
    try:
        yield f'"{staging}"', arrow.num_rows
    finally:
        backend.unregister(staging)


def _insert_sqlite(backend, table, df, mode, on_conflict, keys=(), create=False,
                   also=()) -> int:
    """Prepared-statement batch insert — the reference's fast path
    (prepared toggle crates/sqlite/src/lib.rs:157-161, bench
    benches/sqlite_insert_benchmark.rs): the rows stream into a TEMP
    staging table and commit through ``_commit_staged``, all in ONE
    transaction, so a row the sink rejects rolls back every row before it.
    Returns the streamed row count."""
    q = backend.dialect.quote_ident
    stage = f"{table}__stg_{uuid.uuid4().hex[:12]}"
    with backend.transaction() as con:
        con.execute(create_table_ddl(stage, df.schema, "sqlite", temporary=True))
        n = _bind_rows(con, render_insert("sqlite", stage, df.columns),
                       map(tuple, df.toLocalIterator()))
        _commit_staged(con.execute, "sqlite", table, df.schema, q(stage), keys,
                       create, mode, on_conflict, also)
        con.execute(f"DROP TABLE {q(stage)}")
    return n


def _commit_staged(run, dialect_name, table, schema, staging_q, keys, create,
                   mode, on_conflict, also=()):
    """The one commit of every writer, inside its caller's open
    transaction: check ``keys`` on the staging relation, create the target
    (IF NOT EXISTS) when asked, empty it for an overwrite, ingest with one
    ``INSERT … SELECT [ON CONFLICT]``, then run the statements in ``also``
    (the stream sink's commit-log marker). ``run(sql)`` executes one
    statement and returns its cursor. Returns ``(checked, ingested)``: the
    staged row count the key check summed (None without ``keys``) and the
    ingest's ``rowcount``."""
    q = DIALECTS[dialect_name].quote_ident
    checked = None
    if keys:
        checked = validate_unique(lambda sql: run(sql).fetchone(), staging_q,
                                  keys, q)
    if create:
        run(create_table_ddl(table, schema, dialect_name, primary_keys=tuple(keys),
                             if_not_exists=True))
    if mode == "overwrite":
        _empty_target(run, dialect_name, table)
    count = run(
        render_insert(dialect_name, table, schema.names, select_from=staging_q,
                      on_conflict=on_conflict)
    ).rowcount
    for sql in also:
        run(sql)
    return checked, count


def _empty_target(run, dialect_name, table) -> None:
    """The overwrite step. DuckDB 1.0 rejects re-inserting, in one
    transaction, a key deleted earlier in it (``DELETE`` and ``TRUNCATE``
    alike), so there the target is dropped and rebuilt from its own DDL —
    columns, constraints and indexes as they were; elsewhere it is a
    ``DELETE``."""
    q = DIALECTS[dialect_name].quote_ident
    if dialect_name != "duckdb":
        run(f"DELETE FROM {q(table)}")
        return
    name = table.replace("'", "''")
    where = (f"WHERE table_name = '{name}' AND schema_name = current_schema() "
             f"AND database_name = current_database() AND sql IS NOT NULL")
    ddl = [r[0] for view in ("duckdb_tables", "duckdb_indexes")
           for r in run(f"SELECT sql FROM {view}() {where}").fetchall()]
    run(f"DROP TABLE {q(table)}")
    for sql in ddl:
        run(sql)


def _bind_rows(cur, sql: str, rows) -> int:
    """Bind each tuple of `rows` to the prepared `sql` on `cur`, 10,000 per
    ``executemany``; returns the row count. Holds one batch at a time — with
    ``toLocalIterator`` (one partition at a time) the bounded-mpsc-channel
    analog (write.rs:409-421)."""
    rows = iter(rows)
    total = 0
    while batch := list(islice(rows, 10_000)):
        cur.executemany(sql, batch)
        total += len(batch)
    return total


def delete_from(backend: Backend, table: str, condition: Optional[str] = None) -> int:
    """Remote DELETE; returns affected count (DeletionExec analog,
    dml.rs:49-123)."""
    name = getattr(backend.dialect, "name", "ansi")
    if isinstance(backend, DuckDBBackend):
        tbl = backend.query_arrow(
            render_delete(name, table, condition, returning=True)
        )
        return tbl.num_rows
    return backend.execute(render_delete(name, table, condition))


def update(
    backend: Backend,
    table: str,
    assignments: Dict[str, str],
    condition: Optional[str] = None,
) -> int:
    """Remote UPDATE from column→SQL-expression assignments (UpdateExec
    analog, dml.rs:126-199); returns the affected count. A plain UPDATE
    reports it on every backend (DuckDB as its single result row), and
    DuckDB rejects ``UPDATE … RETURNING`` on a table with a primary key."""
    name = getattr(backend.dialect, "name", "ansi")
    return backend.execute(render_update(name, table, assignments, condition))


def distributed_insert(
    df: DataFrame,
    table: str,
    dbapi_module: str,
    connect_args: Sequence = (),
    connect_kwargs: Optional[Dict] = None,
    dialect_name: str = "ansi",
    on_conflict: Optional[OnConflict] = None,
    create: bool = False,
    primary_keys: Sequence[str] = (),
    mode: str = "append",
) -> int:
    """Distributed sink: per-partition ``foreachPartition`` writers with a
    driver-side transactional commit — the 1000-executor path the
    single-connection ``insert_into`` transport deliberately is not.

    Every executor task opens its own DB-API connection (module + args, the
    same spec shape as RemoteSqlBackend.dbapi_spec) and appends its
    partition into a shared STAGING table tagged with the partition id.
    Tasks are idempotent under Spark retries: each first deletes its own
    partition's staging rows, so a re-run attempt replaces rather than
    duplicates. The driver then commits through ``_commit_staged`` in ONE
    transaction — key check, ``create`` (IF NOT EXISTS), the overwrite
    step, ``INSERT INTO target SELECT … FROM staging [ON CONFLICT …]`` —
    and drops the staging table in it: the reference's staging-table
    discipline (write.rs:558-710, 920-987) with the write fan-in moved off
    the driver. A rejected batch, a failed ingest or a failed task lands
    no row, and the staging table is dropped either way.

    Embedded single-writer engines (SQLite) serialize the partition writers
    on the file lock — correct but not parallel; the target is server
    backends (Postgres/MySQL via psycopg/MySQLdb, warehouses via pyodbc).
    """
    import importlib
    import json as _json

    kwargs = dict(connect_kwargs or {})
    mod = importlib.import_module(dbapi_module)
    q = DIALECTS[dialect_name].quote_ident
    staging = f"{table}__stg_{uuid.uuid4().hex[:12]}"
    staging_q, part_q = q(staging), q("__part")
    mark = "?" if getattr(mod, "paramstyle", "qmark") == "qmark" else "%s"
    ins = render_insert(dialect_name, staging_q, df.columns,
                        extra_columns=("__part",), param_mark=mark,
                        quote_table=False)

    def _connect():
        return mod.connect(*list(connect_args), **kwargs)

    from pyspark.sql import types as _T

    stage_schema = _T.StructType(
        df.schema.fields + [_T.StructField("__part", _T.IntegerType(), False)]
    )
    con = _connect()
    try:
        con.cursor().execute(create_table_ddl(staging, stage_schema, dialect_name))
        con.commit()
    finally:
        con.close()

    # serialize the connection spec, not a connection
    spec = (dbapi_module, list(connect_args), _json.dumps(kwargs))

    def _write_partition(rows):
        import importlib as _il
        import json as _j

        from pyspark import TaskContext

        mod_name, args, kw_json = spec
        pid = TaskContext.get().partitionId()
        wcon = _il.import_module(mod_name).connect(*args, **_j.loads(kw_json))
        try:
            wcur = wcon.cursor()
            # retry idempotency: replace this partition's prior attempt
            wcur.execute(
                f"DELETE FROM {staging_q} WHERE {part_q} = {int(pid)}"
            )
            _bind_rows(wcur, ins, (tuple(row) + (pid,) for row in rows))
            wcon.commit()
        finally:
            wcon.close()

    try:
        df.foreachPartition(_write_partition)
        con = _connect()
        try:
            cur = con.cursor()
            if dialect_name == "sqlite":
                # sqlite3 opens no transaction before DDL: without it the
                # target's CREATE would commit on its own
                cur.execute("BEGIN")

            def run(sql):
                cur.execute(sql)  # DB-API leaves its return value unspecified
                return cur

            _, count = _commit_staged(run, dialect_name, table, df.schema,
                                      staging_q, primary_keys, create, mode,
                                      on_conflict)
            run(f"DROP TABLE {staging_q}")
            con.commit()
        finally:
            con.close()
    except BaseException:
        con = _connect()
        try:
            con.cursor().execute(f"DROP TABLE IF EXISTS {staging_q}")
            con.commit()
        finally:
            con.close()
        raise
    if count is None or count < 0:
        count = -1
    return count
