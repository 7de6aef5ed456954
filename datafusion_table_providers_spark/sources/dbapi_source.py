"""Generic DB-API 2.0 connector on the PySpark Python Data Source API.

Reference analog: the server-backed SQL providers (crates/postgres/src/
lib.rs:202-321, crates/mysql/src/lib.rs, crates/odbc/src/conn.rs:21-23) —
a connection per scan task, generated ``SELECT <proj> FROM rel WHERE
<filters>`` pushed to the server, Arrow batches back. Any importable DB-API
module — pyodbc, adbc_driver_manager.dbapi, psycopg, mysqlclient, or stdlib
sqlite3 (``sqlite_reader_df`` scans through here) — is opened *inside the
executor task*, no JVM jar involved.

``DBAPIReader`` is a ``SqlScanReader`` (sources/sql_scan.py): the shared
base owns the shared options, filter pushdown, range slices and the pushed
SQL; this module supplies the ``dialect`` option, the connection and the
batches. Batches are produced
Arrow-native when the driver cursor supports it (ADBC
``fetch_arrow_table``, turbodbc ``fetchallarrow``), else by chunked
``fetchmany`` → ``rows_to_arrow`` against the declared schema — the
``rows_to_arrow`` analog (crates/postgres/src/arrow_sql_gen/mod.rs:248).

Schema comes from (in order): a declared schema set on the driver
(``schema_ddl``, or SQLite's ``PRAGMA table_info``; the declared-DDL
factory mode, crates/duckdb/src/lib.rs:419-560), an Arrow cursor schema, or
``cursor.description`` + a sampled row (introspection mode,
dbconnection.rs:216-239).
"""

from __future__ import annotations

import datetime as dt
import decimal
import importlib
import json
from contextlib import closing
from typing import Iterator, List, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader

from datafusion_table_providers_spark.core.expr import DIALECTS, build_select
from datafusion_table_providers_spark.sources.sql_scan import (
    SqlScanReader,
    load_scan,
    range_slices,
    row_count,
)

#: rows per ``fetchmany`` chunk, and so per Arrow batch, on the row path
FETCH_ROWS = 16384


def _connect(options):
    mod = importlib.import_module(options["module"])
    args = json.loads(options.get("connect_args", "[]"))
    kwargs = json.loads(options.get("connect_kwargs", "{}"))
    return mod.connect(*args, **kwargs)


def _spark_to_arrow(dtype: T.DataType) -> pa.DataType:
    if isinstance(dtype, T.LongType):
        return pa.int64()
    if isinstance(dtype, T.IntegerType):
        return pa.int32()
    if isinstance(dtype, T.DoubleType):
        return pa.float64()
    if isinstance(dtype, T.FloatType):
        return pa.float32()
    if isinstance(dtype, T.BooleanType):
        return pa.bool_()
    if isinstance(dtype, T.BinaryType):
        return pa.binary()
    if isinstance(dtype, T.DateType):
        return pa.date32()
    if isinstance(dtype, (T.TimestampNTZType, T.TimestampType)):
        return pa.timestamp("us")
    if isinstance(dtype, T.DecimalType):
        return pa.decimal128(dtype.precision, dtype.scale)
    if hasattr(T, "TimeType") and isinstance(dtype, T.TimeType):
        return pa.time64("us")
    return pa.string()


def _infer_spark_type(sample) -> T.DataType:
    if isinstance(sample, bool):
        return T.BooleanType()
    if isinstance(sample, int):
        return T.LongType()
    if isinstance(sample, float):
        return T.DoubleType()
    if isinstance(sample, (bytes, bytearray, memoryview)):
        return T.BinaryType()
    if isinstance(sample, dt.datetime):
        return T.TimestampNTZType()
    if isinstance(sample, dt.date):
        return T.DateType()
    if isinstance(sample, decimal.Decimal):
        return T.DecimalType(38, 18)
    return T.StringType()


def rows_to_arrow(rows: list, target: pa.Schema) -> pa.RecordBatch:
    """One ``fetchmany`` chunk of row tuples → a RecordBatch of ``target``.
    Each column is built from the driver's Python values untyped and then
    cast: a driver's value type need not be the declared one (SQLite hands
    back 0/1 for a BOOLEAN column), and a typed ``pa.array`` rejects it."""
    return pa.record_batch(
        [pa.array(col).cast(f.type) for col, f in zip(zip(*rows), target)],
        schema=target,
    )


class DBAPIReader(SqlScanReader):
    def __init__(self, schema, options):
        super().__init__(schema, options)
        # conservative ANSI by default: only filters whose rendering is
        # portable across servers are pushed
        self.dialect = DIALECTS[options.get("dialect", "odbc")]

    def connect(self):
        return closing(_connect(self.options))

    def fetch_batches(self, con, sql: str) -> Iterator[pa.RecordBatch]:
        cur = con.cursor()
        cur.execute(sql)
        target = pa.schema(
            [
                pa.field(f.name, _spark_to_arrow(f.dataType), f.nullable)
                for f in self.spark_schema.fields
            ]
        )
        # Arrow-native cursors: ADBC fetch_arrow_table, turbodbc fetchallarrow
        for arrow_fetch in ("fetch_arrow_table", "fetchallarrow"):
            if hasattr(cur, arrow_fetch):
                yield from getattr(cur, arrow_fetch)().cast(target).to_batches()
                return
        while rows := cur.fetchmany(FETCH_ROWS):
            yield rows_to_arrow(rows, target)


class DBAPIDataSource(DataSource):
    """``spark.read.format("dbapi_engine")`` — options:

    - ``module``: DB-API module ("pyodbc", "adbc_driver_manager.dbapi",
      "psycopg", "sqlite3", ...)
    - ``connect_args`` / ``connect_kwargs``: JSON for ``module.connect``
    - ``relation``: table/view name or relation SQL text
    - ``dialect``: SQL dialect for generated statements (default "odbc" =
      conservative ANSI)
    - ``columns``: JSON list → pruned projection (A3)

    A declared schema goes through ``DataFrameReader.schema`` on the driver
    (``dbapi_reader_df(schema_ddl=…)``, ``sqlite_reader_df``); only an
    undeclared scan reaches ``schema()`` and introspects.
    """

    @classmethod
    def name(cls) -> str:
        return "dbapi_engine"

    def schema(self):
        cols = json.loads(self.options.get("columns", "null"))
        dialect = DIALECTS[self.options.get("dialect", "odbc")]
        proj = ", ".join(dialect.quote_ident(c) for c in cols) if cols else "*"
        with closing(_connect(self.options)) as con:
            cur = con.cursor()
            cur.execute(
                f"SELECT * FROM (SELECT {proj} FROM {self.options['relation']}) s "
                "WHERE 1 = 0"
            )
            if hasattr(cur, "fetch_arrow_table"):  # ADBC: authoritative types
                from datafusion_table_providers_spark.core.types import (
                    arrow_to_spark_schema,
                )

                return arrow_to_spark_schema(cur.fetch_arrow_table().schema)
            names = [d[0] for d in cur.description]
            # description type codes are driver-specific; sample one row for
            # python-type inference, defaulting to string
            cur2 = con.cursor()
            cur2.execute(
                build_select(
                    dialect, self.options["relation"], columns=cols, limit=50
                )
            )
            samples = cur2.fetchall()
            fields = []
            for i, name in enumerate(names):
                sample = next(
                    (r[i] for r in samples if r[i] is not None), None
                )
                fields.append(T.StructField(name, _infer_spark_type(sample), True))
            return T.StructType(fields)

    def reader(self, schema) -> DataSourceReader:
        return DBAPIReader(schema, self.options)


def postgres_declared_schema(
    con,
    table_name: str,
    table_schema: str = "public",
    action=None,
):
    """Introspect ``information_schema.columns`` over a live DB-API
    connection and map the declared Postgres types through the reference's
    type matrix (core.pg_types ← schema.rs:45-130). Pass the result's
    ``simpleString()``-style DDL into ``dbapi_reader_df(schema_ddl=…)`` so a
    Postgres scan declares real types instead of sampling a row.

    Works against any engine exposing information_schema with
    Postgres-compatible type spellings (DuckDB included — how this is
    tested serverlessly).
    """
    from datafusion_table_providers_spark.core.pg_types import (
        schema_from_information_schema,
    )
    from datafusion_table_providers_spark.core.types import (
        UnsupportedTypeAction,
    )

    cur = con.cursor()
    q = (
        "SELECT column_name, data_type, udt_name, numeric_precision, "
        "numeric_scale, is_nullable FROM information_schema.columns "
        "WHERE table_name = {m} AND table_schema = {m} "
        "ORDER BY ordinal_position"
    )
    try:  # qmark modules (duckdb, sqlite3, pyodbc)
        cur.execute(q.format(m="?"), (table_name, table_schema))
    except Exception:  # format/pyformat modules (psycopg, MySQLdb)
        cur.execute(q.format(m="%s"), (table_name, table_schema))
    rows = [
        {
            "column_name": r[0],
            "data_type": (r[1] or r[2] or "").lower(),
            "udt_name": r[2],
            "numeric_precision": r[3],
            "numeric_scale": r[4],
            "is_nullable": r[5],
        }
        for r in cur.fetchall()
    ]
    return schema_from_information_schema(
        rows, action or UnsupportedTypeAction.ERROR
    )


def dbapi_reader_df(
    spark: SparkSession,
    module: str,
    relation: str,
    connect_args: Optional[list] = None,
    connect_kwargs: Optional[dict] = None,
    dialect: str = "odbc",
    columns: Optional[List[str]] = None,
    schema_ddl: Optional[str] = None,
    partition_column: Optional[str] = None,
    num_partitions: int = 1,
    auto_broadcast: bool = False,
    extra_where: Optional[List[str]] = None,
) -> DataFrame:
    """When ``partition_column`` is set with ``num_partitions>1``, MIN/MAX
    bounds are introspected once driver-side over a DB-API connection and
    the scan splits into disjoint range slices, each executed by its own
    executor task with its own server connection — the JDBC-style parallel
    read, same discipline as ``duckdb_reader_df``.

    ``schema_ddl`` declares the schema (parsed here on the driver) and
    skips introspection; ``columns`` then picks from it, and a name it
    lacks raises ``ValueError``.

    ``auto_broadcast=True``: run one driver-side COUNT(*) over a DB-API
    connection and attach a broadcast join hint when the relation is under
    ``bounded_broadcast``'s cap (A15 stats → join planning; Python-DS scans
    otherwise always shuffle-join — same contract as ``duckdb_reader_df``)."""
    opts = {
        "module": module,
        "relation": relation,
        "dialect": dialect,
        "connect_args": json.dumps(connect_args or []),
        "connect_kwargs": json.dumps(connect_kwargs or {}),
    }
    if columns:
        opts["columns"] = json.dumps(list(columns))
    if extra_where:
        opts["extra_where"] = json.dumps(list(extra_where))
    schema = None
    if schema_ddl:  # parsed here: the planning worker has no session
        schema = T._parse_datatype_string(schema_ddl)
        if columns:
            by_name = {f.name: f for f in schema.fields}
            missing = [c for c in columns if c not in by_name]
            if missing:
                raise ValueError(f"unknown columns {missing} in {relation}")
            schema = T.StructType([by_name[c] for c in columns])

    def fetch_one(sql):
        with closing(_connect(opts)) as con:
            cur = con.cursor()
            cur.execute(sql)
            return cur.fetchone()

    if partition_column and num_partitions > 1:
        clauses = range_slices(
            fetch_one, DIALECTS[dialect], relation, partition_column, num_partitions
        )
        if clauses:
            opts["partition_clauses"] = json.dumps(clauses)
    n_rows = row_count(fetch_one, relation) if auto_broadcast else None
    return load_scan(spark, DBAPIDataSource, opts, schema, n_rows)
