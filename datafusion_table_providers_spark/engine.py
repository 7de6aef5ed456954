"""User-facing Engine: table registry + SQL entry + whole-plan federation.

Reference analog — the federated SessionContext
(datafusion-federation wiring, README.md:13-21, and
crates/common/src/sql/sql_provider_datafusion/federation.rs):

- ``register_*`` mirrors TableProviderFactory / ``get_table``
  (python/python/datafusion_table_providers/duckdb.py:30-62).
- ``Engine.sql(q)``: if every referenced table lives on backends sharing ONE
  ``compute_context``, the entire query is unparsed to that backend and runs
  remotely as a single SQL statement — the reference's federation fast path
  ("pushing down joins between multiple tables from the same database
  system", README.md:7-9). Logical→remote name mapping is carried by a CTE
  prelude, the same trick as the reference's table-function CTE scan
  (crates/duckdb/src/sql_table.rs:296-307: ``WITH name AS (SELECT * FROM
  read_parquet(...)) <query>``).
- Otherwise the query runs on Spark: connector-backed temp views feed
  Catalyst, which executes the cross-source remainder locally — exactly the
  reference's fallback (federation.rs: DataFusion executes the cross-source
  remainder).

Scale note: the federated fast path materializes the remote result via one
Arrow stream on the driver — correct for the aggregate/TopK results it is
meant for. Scans of large remote tables should go through the partitioned
Python Data Source connectors instead (sources/duckdb_source.py), which read
on executors.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Dict, Optional, Sequence, Set

from pyspark.sql import DataFrame, SparkSession

from datafusion_table_providers_spark.session import tune_session
from datafusion_table_providers_spark.sources.backends import Backend


def _sql_identifiers(sql: str) -> Set[str]:
    """Lower-cased identifiers appearing in ``sql`` outside string literals
    and comments, excluding dot-qualified members (``a.b`` contributes only
    ``a``). A lexer, not a parser: it cannot tell a table from a column of
    the same name — that residual ambiguity is what the explicit ``tables=``
    parameter is for."""
    idents: Set[str] = set()
    i, n = 0, len(sql)
    prev_dot = False
    while i < n:
        c = sql[i]
        if c == "'":  # string literal ('' escapes)
            i += 1
            while i < n:
                if sql[i] == "'":
                    if i + 1 < n and sql[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
            i += 1
            prev_dot = False
            continue
        if c == '"':  # quoted identifier ("" escapes)
            j = i + 1
            buf = []
            while j < n:
                if sql[j] == '"':
                    if j + 1 < n and sql[j + 1] == '"':
                        buf.append('"')
                        j += 2
                        continue
                    break
                buf.append(sql[j])
                j += 1
            if not prev_dot:
                idents.add("".join(buf).lower())
            i = j + 1
            prev_dot = False
            continue
        if sql.startswith("--", i):
            nl = sql.find("\n", i)
            if nl < 0:
                break
            i = nl + 1
            prev_dot = False
            continue
        if sql.startswith("/*", i):
            end = sql.find("*/", i + 2)
            if end < 0:
                break
            i = end + 2
            prev_dot = False
            continue
        if c.isalpha() or c == "_":
            j = i
            while j < n and (sql[j].isalnum() or sql[j] == "_"):
                j += 1
            if not prev_dot:
                idents.add(sql[i:j].lower())
            prev_dot = False
            i = j
            continue
        if not c.isspace():
            prev_dot = c == "."
        i += 1
    return idents


@dataclass
class TableHandle:
    name: str
    backend: Optional[Backend]  # None → Spark-native (parquet/df)
    remote_relation: str  # SQL relation text on the backend ("tbl" or subquery)
    # registration-time scan shape, carried so derived scans (reduced_view)
    # keep the original parallel-read layout instead of collapsing to one
    # partition:
    partition_column: Optional[str] = None
    num_partitions: int = 1
    columns: Optional[list] = None


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = tune_session(spark)
        self._tables: Dict[str, TableHandle] = {}

    # -- registration -----------------------------------------------------
    def register_parquet(self, name: str, path: str) -> DataFrame:
        from datafusion_table_providers_spark.operators.relational import _scan

        df = _scan(self.spark, path)[0]
        df.createOrReplaceTempView(name)
        self._tables[name] = TableHandle(name, None, name)
        return df

    def register_dataframe(self, name: str, df: DataFrame) -> DataFrame:
        df.createOrReplaceTempView(name)
        self._tables[name] = TableHandle(name, None, name)
        return df

    def register_backend_table(
        self,
        name: str,
        backend: Backend,
        remote_relation: Optional[str] = None,
        partition_column: Optional[str] = None,
        num_partitions: int = 1,
        columns: Optional[list] = None,
    ) -> DataFrame:
        """Register a connector-backed table as a Spark temp view.

        The view reads through the Python Data Source connector (executor-side
        Arrow batches, filter/column pushdown); federation metadata is kept so
        ``Engine.sql`` can still collapse same-backend queries.

        ``columns`` prunes the remote projection (reference mod.rs:258-276):
        list every column queries against this view will touch; the transfer
        then carries only those instead of full-width rows.
        """
        relation = remote_relation or name
        df = self._connector_df(
            backend, relation, partition_column, num_partitions, columns
        )
        df.createOrReplaceTempView(name)
        self._tables[name] = TableHandle(
            name, backend, relation,
            partition_column=partition_column,
            num_partitions=num_partitions,
            columns=columns,
        )
        return df

    def reduced_view(
        self,
        name: str,
        fact_key: str,
        dim_df: DataFrame,
        dim_key: Optional[str] = None,
        view_name: Optional[str] = None,
        in_list_max: Optional[int] = None,
        columns: Optional[list] = None,
    ) -> DataFrame:
        """Re-register a connector table as a runtime-reduced view.

        Computes the semi-join reduction clause (sources/dynamic_filter.py)
        from ``dim_df``'s ``dim_key`` values and registers
        ``view_name`` (default ``{name}_reduced``) as the same connector
        scan with that clause ANDed into its remote WHERE. Joins against
        the reduced view fetch only potentially-matching fact rows from
        the remote engine — the dynamic-filter pushdown Spark's own
        runtime filters cannot deliver across the Python DataSource
        boundary.

        The clause is a superset filter — the Spark-side join remains the
        truth — **provided ``dim_df`` is deterministic**: the clause is
        frozen from a driver-side collect here, while the join above the
        reduced view re-evaluates ``dim_df`` at action time. A dim whose
        keys can differ between those two evaluations (``sample()`` /
        ``rand()``-derived filters, a remote table mutating underneath)
        can produce join keys the frozen clause already dropped remotely.
        Freeze such dims first (``dim_df = dim_df.localCheckpoint()``) and
        join against the SAME frozen reference. The original scan shape
        (partition column/count, projected columns) is carried over from
        registration so the reduced scan keeps its parallel reads.
        """
        from datafusion_table_providers_spark.sources.dynamic_filter import (
            IN_LIST_MAX,
            runtime_filter_clause,
        )

        handle = self._tables[name]
        backend = handle.backend
        if backend is None:
            raise ValueError(f"{name} is not a connector-backed table")
        clause, _strategy = runtime_filter_clause(
            dim_df,
            dim_key or fact_key,
            backend.dialect,
            fact_column=fact_key,
            in_list_max=IN_LIST_MAX if in_list_max is None else in_list_max,
        )
        extra = [clause] if clause is not None else []
        df = self._connector_df(
            backend,
            handle.remote_relation,
            handle.partition_column,
            handle.num_partitions,
            columns=columns if columns is not None else handle.columns,
            extra_where=extra,
        )
        df.createOrReplaceTempView(view_name or f"{name}_reduced")
        return df

    def _connector_df(
        self,
        backend: Backend,
        relation: str,
        partition_column: Optional[str],
        num_partitions: int,
        columns: Optional[list] = None,
        extra_where: Optional[list] = None,
    ) -> DataFrame:
        from datafusion_table_providers_spark.sources.duckdb_source import (
            duckdb_reader_df,
        )
        from datafusion_table_providers_spark.sources.sqlite_source import (
            sqlite_reader_df,
        )

        ctx = backend.compute_context()
        if ctx.startswith("duckdb:"):
            return duckdb_reader_df(
                self.spark,
                backend,
                relation,
                partition_column,
                num_partitions,
                columns=columns,
                extra_where=extra_where,
            )
        if ctx.startswith("sqlite:"):
            return sqlite_reader_df(
                self.spark, backend, relation,
                columns=columns, extra_where=extra_where,
            )
        raise ValueError(f"no connector for backend context {ctx}")

    # -- query ------------------------------------------------------------
    def sql(
        self,
        query: str,
        tables: Optional[Sequence[str]] = None,
        threshold_rows: Optional[int] = None,
        spool_dir: Optional[str] = None,
    ) -> DataFrame:
        """Run SQL with whole-plan federation when possible.

        ``tables`` names the referenced registered tables explicitly and
        skips identifier detection. Pushed-fragment results above
        ``threshold_rows`` (default transport.DEFAULT_THRESHOLD_ROWS) are
        spooled to parquet and read on executors rather than materialized in
        driver memory; on a cluster, pass ``spool_dir`` on shared storage.
        """
        from datafusion_table_providers_spark.sources.transport import (
            DEFAULT_THRESHOLD_ROWS,
            materialize_remote,
        )

        handles, _, backend = self._route(query, tables)
        if backend is not None:
            pushed = self._with_cte_prelude(query, handles)
            return materialize_remote(
                self.spark,
                backend,
                pushed,
                threshold_rows=(
                    DEFAULT_THRESHOLD_ROWS
                    if threshold_rows is None
                    else threshold_rows
                ),
                spool_dir=spool_dir,
            )
        return self.spark.sql(query)

    def explain_federation(
        self, query: str, tables: Optional[Sequence[str]] = None
    ) -> str:
        """Report which execution path ``sql`` would take (for tests/docs)."""
        _, contexts, backend = self._route(query, tables)
        if backend is not None:
            return f"federated[{next(iter(contexts))}]"
        return f"spark[{', '.join(sorted(contexts)) or 'no-tables'}]"

    def _route(self, query: str, tables: Optional[Sequence[str]] = None):
        """The one routing decision of ``sql`` and ``explain_federation``:
        ``(handles, contexts, backend)`` — the referenced tables, their
        compute contexts ("spark" for a Spark-registered table), and the
        backend that runs the whole query when every table lives in one
        remote context, else None (Spark runs it)."""
        handles = self._referenced(query, tables)
        contexts = {
            h.backend.compute_context() if h.backend else "spark"
            for h in handles.values()
        }
        backend = None
        if handles and "spark" not in contexts and len(contexts) == 1:
            backend = next(iter(handles.values())).backend
        return handles, contexts, backend

    def _referenced(
        self, query: str, tables: Optional[Sequence[str]] = None
    ) -> Dict[str, TableHandle]:
        """Registered tables the query references.

        Matches at the identifier level: string literals and comments are
        skipped and dot-qualified members (``alias.col``) don't count, so a
        table name appearing inside a literal/comment/qualified column no
        longer misroutes the query (the round-1 regex did). Callers that
        need exactness (a column alias shadowing a table name) pass
        ``tables`` explicitly.
        """
        if tables is not None:
            return {n: self._tables[n] for n in tables if n in self._tables}
        idents = _sql_identifiers(query)
        return {
            name: h
            for name, h in self._tables.items()
            if name.lower() in idents
        }

    def _with_cte_prelude(self, query: str, handles: Dict[str, TableHandle]) -> str:
        ctes = [
            f'"{h.name}" AS (SELECT * FROM {h.remote_relation})'
            for h in handles.values()
            if h.remote_relation != h.name
        ]
        if not ctes:
            return query
        # Merge with an existing WITH clause if the query has one.
        stripped = query.lstrip()
        if re.match(r"(?i)^WITH\s", stripped):
            body = stripped[len("WITH") :]
            return "WITH " + ", ".join(ctes) + ", " + body
        return "WITH " + ", ".join(ctes) + " " + query

    # -- DML (delegates to the write layer) -------------------------------
    def insert_into(self, name: str, df: DataFrame, **kwargs) -> int:
        from datafusion_table_providers_spark.write.writer import insert_into

        h = self._require_backend(name)
        return insert_into(h.backend, h.remote_relation, df, **kwargs)

    def delete_from(self, name: str, condition: Optional[str] = None) -> int:
        from datafusion_table_providers_spark.write.writer import delete_from

        h = self._require_backend(name)
        return delete_from(h.backend, h.remote_relation, condition)

    def update(self, name: str, assignments: Dict[str, str], condition=None) -> int:
        from datafusion_table_providers_spark.write.writer import update

        h = self._require_backend(name)
        return update(h.backend, h.remote_relation, assignments, condition)

    def _require_backend(self, name: str) -> TableHandle:
        h = self._tables.get(name)
        if h is None or h.backend is None:
            raise ValueError(f"{name} is not a backend-managed table")
        return h
