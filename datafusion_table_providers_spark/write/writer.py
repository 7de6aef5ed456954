"""Write path: append / overwrite / upsert / DELETE / UPDATE.

Reference analog (crates/duckdb/src/write.rs, crates/common/src/util/dml.rs):

- INSERT append: input stream → staging relation → single-transaction
  ``INSERT INTO t SELECT * FROM staging [ON CONFLICT ...]`` (write.rs:377-711,
  staging `write_to_table` :920-987), constraint pre-validation first
  (:466-476), ANALYZE after (:989-996).
- INSERT overwrite: write to a staging table, then atomically swap inside one
  transaction (the reference re-points a view / swaps the DB file,
  write.rs:712-880 + file_swap.rs; an embedded transactional rename is the
  equivalent atomicity point here).
- DELETE / UPDATE: filters → remote ``DELETE FROM t WHERE ...`` /
  ``UPDATE t SET ... WHERE ...`` returning affected counts as one-row results
  (dml.rs:19-199, count_exec.rs).

Spark-side streaming: the DataFrame is brought over as Arrow batches per
partition (``toArrow`` on bounded inputs; ``toLocalIterator`` keeps memory
bounded for large ones) and appended inside ONE transaction — matching the
reference's bounded-channel single-writer design (write.rs:409-421). Embedded
engines serialize writers anyway (DuckDB write gate, pool.rs:318); for truly
distributed sinks (JDBC fleets) a per-partition ``foreachPartition`` writer
with driver-side commit would replace this, which is what the partitioned
reader already models on the scan side.
"""

from __future__ import annotations

import os
import uuid
from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame

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
# validate_not_null is not called here: validate_unique checks NULL keys in
# the same job. perfbench/trace.py times both names on this module.
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
      The staging semantics (single transaction, ON CONFLICT, ANALYZE
      after) are identical to the Arrow transport.
    - ``"auto"`` — spool when the input has >8 partitions AND a valid spool
      location exists (``spool_dir`` given, or local master); arrow
      otherwise.
    """
    if primary_keys:
        validate_unique(df, primary_keys)
    if create:
        create_table(backend, table, df.schema, primary_keys=primary_keys)

    if isinstance(backend, DuckDBBackend):
        local = df.sparkSession.conf.get("spark.master", "").startswith("local")
        if via == "auto":
            via = (
                "spool"
                if _num_partitions(df) > 8
                and _spool_safe(df.schema)
                and (spool_dir is not None or local)
                else "arrow"
            )
        if via == "spool":
            if spool_dir is None and not local:
                raise ValueError(
                    "spool transport on a non-local master needs spool_dir "
                    "on shared storage readable by the sink host"
                )
            return _insert_duckdb_spool(
                backend, table, df, mode, on_conflict, spool_dir
            )
        return _insert_duckdb(backend, table, df, mode, on_conflict)
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
        local = df.sparkSession.conf.get("spark.master", "").startswith("local")
        if via in ("auto", "arrow", "spool"):
            via = (
                "staged"
                if _num_partitions(df) > 8
                and backend.path != ":memory:"
                and local
                else "loop"
            )
        if via == "staged":
            if mode == "overwrite":
                backend.execute(f'DELETE FROM "{table}"')
            return distributed_insert(
                df,
                table,
                "sqlite3",
                connect_args=(backend.path,),
                connect_kwargs={"timeout": 120.0},
                dialect_name="sqlite",
                on_conflict=on_conflict,
            )
        return _insert_sqlite(backend, table, df, mode, on_conflict)
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


def _staged_ingest(backend, table, mode, names, source_rel, on_conflict) -> None:
    """Shared staging discipline: append straight in, or build a fresh
    generation and atomically swap (view re-point analog, write.rs:712-880)."""
    if mode == "overwrite":
        gen = f"{table}_gen_{uuid.uuid4().hex[:8]}"
        backend.execute(f'CREATE TABLE "{gen}" AS SELECT * FROM "{table}" LIMIT 0')
        backend.execute(
            render_insert("duckdb", gen, names, select_from=source_rel)
        )
        backend.execute(
            f'BEGIN; DROP TABLE "{table}"; '
            f'ALTER TABLE "{gen}" RENAME TO "{table}"; COMMIT'
        )
    else:
        backend.execute(
            render_insert(
                "duckdb",
                table,
                names,
                select_from=source_rel,
                on_conflict=on_conflict,
            )
        )
    # Stats refresh after bulk write (ANALYZE, write.rs:989-996)
    backend.execute(f'ANALYZE "{table}"')


def _insert_duckdb_spool(backend, table, df, mode, on_conflict, spool_dir=None) -> int:
    """Executor-parallel ingest: partitions land as parquet files written by
    the cluster, the embedded sink reads them back with its native parquet
    scanner in one staged transaction. Serialization work is distributed
    across executors (the reference's single writer thread only ever sees
    Arrow it must build itself — write.rs:413); the driver never holds data."""
    import shutil
    import tempfile

    if not _spool_safe(df.schema):
        raise ValueError(
            "interval columns cannot take the spool transport (parquet "
            "round-trip drops the logical type); use via='arrow'"
        )
    names = [f.name for f in df.schema.fields]
    if spool_dir is not None:
        spool = os.path.join(spool_dir, f"dtps_spool_{uuid.uuid4().hex[:12]}")
    else:
        spool = tempfile.mkdtemp(prefix="dtps_spool_")
    try:
        df.write.mode("overwrite").parquet(spool)
        glob_rel = f"read_parquet('{spool}/*.parquet')"
        n = backend.query_arrow(f"SELECT COUNT(*) AS n FROM {glob_rel}")[0][0].as_py()
        _staged_ingest(backend, table, mode, names, glob_rel, on_conflict)
    finally:
        shutil.rmtree(spool, ignore_errors=True)
    return n


def _insert_duckdb(backend, table, df, mode, on_conflict) -> int:
    arrow = df.toArrow()  # Arrow end-to-end; no row-wise conversion
    staging = f"staging_{uuid.uuid4().hex[:12]}"
    backend.register_arrow(staging, arrow)
    try:
        _staged_ingest(
            backend, table, mode, arrow.schema.names, f'"{staging}"', on_conflict
        )
    finally:
        backend.unregister(staging)
    return arrow.num_rows


def _insert_sqlite(backend, table, df, mode, on_conflict) -> int:
    """Prepared-statement batch insert — the reference's fast path
    (prepared toggle crates/sqlite/src/lib.rs:157-161, bench
    benches/sqlite_insert_benchmark.rs)."""
    cols = [f.name for f in df.schema.fields]
    sql = render_insert("sqlite", table, cols, on_conflict=on_conflict)
    if mode == "overwrite":
        backend.execute(f'DELETE FROM "{table}"')
    total = 0
    # toLocalIterator streams one partition at a time — bounded driver memory,
    # the bounded-mpsc-channel analog (write.rs:409-421).
    batch = []
    for row in df.toLocalIterator():
        batch.append(tuple(row[c] for c in cols))
        if len(batch) >= 10000:
            backend.executemany(sql, batch)
            total += len(batch)
            batch = []
    if batch:
        backend.executemany(sql, batch)
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
    batch_size: int = 10_000,
) -> int:
    """Distributed sink: per-partition ``foreachPartition`` writers with a
    driver-side transactional commit — the 1000-executor path the
    single-connection ``insert_into`` transport deliberately is not.

    Every executor task opens its own DB-API connection (module + args, the
    same spec shape as RemoteSqlBackend.dbapi_spec) and appends its
    partition into a shared STAGING table tagged with the partition id.
    Tasks are idempotent under Spark retries: each first deletes its own
    partition's staging rows, so a re-run attempt replaces rather than
    duplicates. The driver then commits ``INSERT INTO target SELECT …
    FROM staging [ON CONFLICT …]`` in ONE transaction and drops the staging
    table — the reference's staging-table discipline (write.rs:558-710,
    920-987) with the write fan-in moved off the driver.

    Embedded single-writer engines (SQLite) serialize the partition writers
    on the file lock — correct but not parallel; the target is server
    backends (Postgres/MySQL via psycopg/MySQLdb, warehouses via pyodbc).
    """
    import importlib
    import json as _json

    from datafusion_table_providers_spark.core.expr import DIALECTS

    kwargs = dict(connect_kwargs or {})
    dialect = DIALECTS[dialect_name]
    q = dialect.quote_ident
    cols = [f.name for f in df.schema.fields]
    # constraint pre-validation, same discipline as insert_into (reference
    # constraints.rs:28-123 — reject the batch BEFORE any row lands); the
    # group-count check is a distributed Spark aggregate, so it scales with
    # the input like the write itself
    if primary_keys:
        validate_unique(df, primary_keys)
    staging = f"{table}__stg_{uuid.uuid4().hex[:12]}"

    def _connect():
        mod = importlib.import_module(dbapi_module)
        return mod.connect(*list(connect_args), **kwargs)

    con = _connect()
    try:
        cur = con.cursor()
        if create:
            cur.execute(
                create_table_ddl(
                    table, df.schema, dialect_name, primary_keys=primary_keys
                )
            )
        from pyspark.sql import types as _T

        stage_schema = _T.StructType(
            df.schema.fields + [_T.StructField("__part", _T.IntegerType(), False)]
        )
        cur.execute(create_table_ddl(staging, stage_schema, dialect_name))
        con.commit()
    finally:
        con.close()

    # serialize the connection spec, not a connection
    spec = (dbapi_module, list(connect_args), _json.dumps(kwargs))
    staging_q, part_q = q(staging), q("__part")

    def _write_partition(rows):
        import importlib as _il
        import json as _j

        from pyspark import TaskContext

        mod_name, args, kw_json = spec
        mod = _il.import_module(mod_name)
        pid = TaskContext.get().partitionId()
        wcon = mod.connect(*args, **_j.loads(kw_json))
        try:
            wcur = wcon.cursor()
            mark = "?" if getattr(mod, "paramstyle", "qmark") == "qmark" else "%s"
            # retry idempotency: replace this partition's prior attempt
            wcur.execute(
                f"DELETE FROM {staging_q} WHERE {part_q} = {int(pid)}"
            )
            from datafusion_table_providers_spark.write.statement import (
                render_insert as _ri,
            )

            ins = _ri(
                dialect_name,
                staging_q,
                cols,
                extra_columns=("__part",),
                param_mark=mark,
                quote_table=False,
            )
            batch = []
            for row in rows:
                batch.append(tuple(row[c] for c in cols) + (pid,))
                if len(batch) >= batch_size:
                    wcur.executemany(ins, batch)
                    batch = []
            if batch:
                wcur.executemany(ins, batch)
            wcon.commit()
        finally:
            wcon.close()

    df.foreachPartition(_write_partition)

    con = _connect()
    try:
        cur = con.cursor()
        cur.execute(
            render_insert(
                dialect_name,
                table,
                cols,
                select_from=staging_q,
                on_conflict=on_conflict,
            )
        )
        count = cur.rowcount
        cur.execute(f"DROP TABLE {staging_q}")
        con.commit()
        if count is None or count < 0:
            count = -1
        return count
    finally:
        con.close()
