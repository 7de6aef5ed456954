"""One SQL scan for every SQL connector: DuckDB, SQLite and any DB-API driver.

Reference analog: the generic ``SqlTable``/``SqlExec`` (crates/common/src/sql/
sql_provider_datafusion/mod.rs:70-228) that every SQL backend plugs into.
``SqlScanReader`` owns what a scan does the same way on every backend:

- the options ``relation``, ``columns``, ``extra_where`` and
  ``partition_clauses``;
- the Exact/unsupported filter split (``pushFilters``, mod.rs:231-247):
  clauses the dialect renders run remotely and leave Spark's plan;
- one ``ScanPartition`` per range slice (``partitions``);
- the exact SQL one partition pushes (``scan_sql``, the analog of
  scan_to_sql, mod.rs:122-134);
- ``read``: connect, run ``scan_sql``, yield the backend's Arrow batches.

A backend subclass sets ``dialect`` (DuckDB pins its own; the DB-API
reader takes it from its ``dialect`` option), sets ``order_by``/``limit``
only if its callers push them (DuckDB), and supplies ``connect()`` (a
context manager that yields a connection) and ``fetch_batches(con, sql)``.

Driver-side, the ``*_reader_df`` builders share ``range_slices`` (the one
JDBC-style range splitter), ``row_count`` (the COUNT(*) statistic) and
``load_scan`` (registration + load, and the broadcast hint through
``session.bounded_broadcast`` when the builder passes a row count).
"""

from __future__ import annotations

import datetime
import decimal
import json
from typing import Callable, Iterator, List, Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSourceReader, InputPartition

from datafusion_table_providers_spark.core.expr import (
    Dialect,
    build_select,
    translate_filters,
)
from datafusion_table_providers_spark.session import bounded_broadcast

#: ``fetch_one(sql)`` runs one statement on the driver and returns its
#: first row as a sequence
FetchOne = Callable[[str], Sequence]


class ScanPartition(InputPartition):
    """One scan task: its disjoint range-slice WHERE fragment, or None."""

    def __init__(self, index: int, clause: Optional[str]):
        super().__init__(index)
        self.clause = clause


class SqlScanReader(DataSourceReader):
    #: the dialect every statement of the scan is rendered in
    dialect: Dialect
    #: remote ORDER BY / LIMIT of every partition's SQL: none unless the
    #: backend subclass reads them from its options
    order_by: Sequence[str] = ()
    limit: Optional[int] = None

    def __init__(self, schema, options):
        self.spark_schema = schema
        self.options = options
        self.relation = options["relation"]
        # caller-supplied SQL fragments ANDed into every partition's WHERE —
        # the runtime semi-join reduction path (sources/dynamic_filter.py)
        # injects its IN-list / range clause here
        self.where: List[str] = json.loads(options.get("extra_where", "[]"))
        # Projection pushdown (reference mod.rs:258-276): the Python DS API
        # has no pruning hook, so required columns are threaded through the
        # ``columns`` option and the generated SELECT names exactly those —
        # never ``*``.
        self.columns = json.loads(options.get("columns", "null"))
        self.partition_clauses = json.loads(
            options.get("partition_clauses", "[]")
        )

    def pushFilters(self, filters):
        """Exact/unsupported split (reference mod.rs:231-247): clauses we
        translate are evaluated remotely and dropped from Spark's plan."""
        clauses, unsupported = translate_filters(filters, self.dialect)
        self.where.extend(clauses)
        return iter(unsupported)

    def partitions(self):
        return [
            ScanPartition(i, c)
            for i, c in enumerate(self.partition_clauses or [None])
        ]

    def scan_sql(self, partition=None) -> str:
        """The exact SQL one partition sends to the engine (test surface)."""
        where = list(self.where)
        if partition is not None and partition.clause:
            where.append(partition.clause)
        return build_select(
            self.dialect,
            self.relation,
            columns=self.columns,
            where=where,
            order_by=self.order_by,
            limit=self.limit,
        )

    def read(self, partition) -> Iterator[pa.RecordBatch]:
        with self.connect() as con:
            yield from self.fetch_batches(con, self.scan_sql(partition))

    def connect(self):
        """A context manager yielding one connection for this task."""
        raise NotImplementedError

    def fetch_batches(self, con, sql: str) -> Iterator[pa.RecordBatch]:
        """Run ``sql`` on ``con`` and yield Arrow batches that match the
        reader's Spark schema."""
        raise NotImplementedError


def range_slices(
    fetch_one: FetchOne, dialect: Dialect, relation: str, column: str, n: int
) -> List[str]:
    """Split a scan into ``n`` disjoint WHERE fragments over ``column``'s
    [MIN, MAX] range, read once on the driver — the JDBC-style partitioned
    read, each slice one executor task with its own connection. The first
    slice also takes the rows whose key is NULL, as Spark's JDBC source
    does. Numeric edges render as plain numbers; dates and timestamps go
    through ``dialect.literal``. An empty or single-valued range, bounds
    that are neither numbers nor dates/timestamps (SQLite hands back DATE
    and TEXT keys as strings), or ``n < 2`` give no slices: the scan stays
    one partition."""
    q = dialect.quote_ident(column)
    lo, hi = fetch_one(f"SELECT MIN({q}) AS lo, MAX({q}) AS hi FROM {relation}")
    numeric = isinstance(lo, (int, float, decimal.Decimal))
    temporal = isinstance(lo, (datetime.date, datetime.datetime))
    if n < 2 or not (numeric or temporal) or hi is None or not hi > lo:
        return []
    step = (hi - lo) / n
    edges = [lo + step * i for i in range(1, n)]
    bound = str if numeric else dialect.literal
    clauses = [f"{q} < {bound(edges[0])} OR {q} IS NULL"]
    for a, b in zip(edges, edges[1:]):
        clauses.append(f"{q} >= {bound(a)} AND {q} < {bound(b)}")
    clauses.append(f"{q} >= {bound(edges[-1])}")
    return clauses


def row_count(fetch_one: FetchOne, relation: str) -> int:
    """Row-count statistic for a relation (reference A15,
    crates/flightsql/src/lib.rs:343-349 reports these to the optimizer)."""
    return int(fetch_one(f"SELECT COUNT(*) AS n FROM {relation}")[0])


_REGISTERED = set()


def load_scan(
    spark: SparkSession,
    source,
    options: dict,
    schema: Optional[T.StructType] = None,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """Register ``source`` once per session and load one scan of it. A
    ``schema`` resolved on the driver skips the planning worker's
    ``DataSource.schema()`` call. ``n_rows``, the relation's row count,
    goes to ``bounded_broadcast``: Python DataSource scans report only the
    session's default sizeInBytes to Catalyst (no stats hook — A15), so
    without the hint Spark never broadcasts a connector table."""
    key = (id(spark), source.name())
    if key not in _REGISTERED:
        spark.dataSource.register(source)
        _REGISTERED.add(key)
    reader = spark.read.format(source.name()).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load()
    return df if n_rows is None else bounded_broadcast(df, n_rows)
