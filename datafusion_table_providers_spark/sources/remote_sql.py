"""Generic remote-SQL backend (Postgres / MySQL shape).

Reference analog: crates/postgres and crates/mysql — async server backends
sharing the common ``SqlTable`` scan + write machinery. In Spark, the scan
side of a server-backed SQL table is best served by the built-in JDBC DSv2
source (JVM-side, partitioned, with pushDownPredicate/Limit/TableSample
already implemented); what the reference adds on top — and what this module
provides — is:

- dialect-aware DDL (CREATE TABLE from Spark schema) through
  `core/types.py`; writes take ``writer.distributed_insert`` with the
  backend's ``dbapi_spec()``, whose statements render through
  `write/statement.py` like every other writer's;
- federation metadata: a ``compute_context`` of (host, port, database, user)
  — crates/postgres/src/pool.rs:513-529 — so same-server tables collapse
  into one pushed query via ``Engine.sql``;
- credential indirection via a callable provider (PasswordProvider analog,
  crates/postgres pool);
- scan options mapping (partitionColumn/lowerBound/upperBound/numPartitions
  — our range-partitioning discipline, JDBC-native here).

Live connections require a JDBC driver jar or a DB-API module (psycopg2 /
mysqlclient), neither of which ships in this container — construction of
readers is therefore lazy and the SQL-generation surface is fully
unit-tested without a server (tests/test_remote_sql.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Dict, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from datafusion_table_providers_spark.core.expr import DIALECTS


@dataclass
class RemoteSqlBackend:
    """Connection descriptor + SQL generator for one remote server database."""

    kind: str  # "postgres" | "mysql" | "clickhouse" | "odbc" | "adbc"
    host: str
    port: int
    database: str
    user: str
    password_provider: Optional[Callable[[], str]] = None
    properties: Dict[str, str] = field(default_factory=dict)

    def __post_init__(self):
        self.dialect = DIALECTS[self.kind]

    # federation key (pool.rs:513-529: host/port/db/user)
    def compute_context(self) -> str:
        return f"{self.kind}:{self.host}:{self.port}/{self.database}?user={self.user}"

    def jdbc_url(self) -> str:
        scheme = {
            "postgres": "postgresql",
            "mysql": "mysql",
            "clickhouse": "clickhouse",
        }.get(self.kind)
        if scheme is None:
            # ADVICE r1: jdbc:odbc: URLs target the JDBC-ODBC bridge removed
            # in Java 8, and no "adbc" JDBC scheme exists — those transports
            # go through the DB-API reader (dbapi_spec/reader_df), never JDBC
            raise ValueError(
                f"{self.kind} has no JDBC transport; use reader_df (DB-API "
                "path) or pass an explicit driver class + url via properties"
            )
        return f"jdbc:{scheme}://{self.host}:{self.port}/{self.database}"

    def dbapi_spec(self):
        """(module, connect_args, connect_kwargs) for the DB-API transport.

        ODBC: the ``database`` field carries the connection string →
        ``pyodbc.connect(conn_str)``. ADBC: it carries the driver URI →
        ``adbc_driver_manager.dbapi.connect(driver=..., db_kwargs={'uri':…})``
        when ``properties['driver']`` names the driver library, else the
        uri-only form for drivers that self-register. Postgres/MySQL can opt
        into DB-API with properties['transport']='dbapi' (psycopg /
        MySQLdb), which needs no JVM driver jar.
        """
        if self.kind == "odbc":
            return "pyodbc", [self.database], {}
        if self.kind == "adbc":
            kwargs = {"uri": self.database}
            if "driver" in self.properties:
                kwargs["driver"] = self.properties["driver"]
            return "adbc_driver_manager.dbapi", [], kwargs
        if self.kind == "postgres":
            dsn = (
                f"host={self.host} port={self.port} dbname={self.database} "
                f"user={self.user}"
            )
            if self.password_provider is not None:
                dsn += f" password={self.password_provider()}"
            return "psycopg", [dsn], {}
        if self.kind == "mysql":
            kwargs = {
                "host": self.host,
                "port": self.port,
                "database": self.database,
                "user": self.user,
            }
            if self.password_provider is not None:
                kwargs["password"] = self.password_provider()
            return "MySQLdb", [], kwargs
        if self.kind == "clickhouse":
            kwargs = {
                "host": self.host,
                "port": self.port,
                "database": self.database,
                "user": self.user,
            }
            if self.password_provider is not None:
                kwargs["password"] = self.password_provider()
            return "clickhouse_driver.dbapi", [], kwargs
        raise ValueError(f"no DB-API mapping for {self.kind}")

    def jdbc_options(
        self,
        table_or_query: str,
        partition_column: Optional[str] = None,
        num_partitions: Optional[int] = None,
        bounds: Optional[Sequence] = None,
    ) -> Dict[str, str]:
        """Options for ``spark.read.format("jdbc")`` with pushdown on and
        range partitioning when requested (the scan plan we want at scale:
        numPartitions parallel executor connections, filters/limits pushed
        by Spark's JDBC relation)."""
        opts = {
            "url": self.jdbc_url(),
            "dbtable": table_or_query,
            "user": self.user,
            "pushDownPredicate": "true",
            "pushDownLimit": "true",
            "pushDownAggregate": "true",
            "pushDownTableSample": "true",
        }
        if self.password_provider is not None:
            opts["password"] = self.password_provider()
        if partition_column and num_partitions:
            if not bounds or len(bounds) != 2:
                raise ValueError("range partitioning requires (lower, upper) bounds")
            opts.update(
                {
                    "partitionColumn": partition_column,
                    "numPartitions": str(num_partitions),
                    "lowerBound": str(bounds[0]),
                    "upperBound": str(bounds[1]),
                }
            )
        opts.update(self.properties)
        return opts

    def reader_df(
        self,
        spark: SparkSession,
        table: str,
        columns: Optional[Sequence[str]] = None,
        schema_ddl: Optional[str] = None,
        **partitioning,
    ) -> DataFrame:
        """Scan DataFrame for a remote table.

        Postgres/MySQL/ClickHouse default to Spark's JVM JDBC source
        (partitioned, pushdown built in) and need a driver jar; ODBC/ADBC —
        and any backend with properties['transport']='dbapi' — go through
        the Python DB-API data source (sources/dbapi_source.py), which needs
        only an importable driver module on the executors."""
        use_dbapi = self.kind in ("odbc", "adbc") or (
            self.properties.get("transport") == "dbapi"
        )
        if use_dbapi:
            from datafusion_table_providers_spark.sources.dbapi_source import (
                dbapi_reader_df,
            )

            module, args, kwargs = self.dbapi_spec()
            return dbapi_reader_df(
                spark,
                module,
                table,
                connect_args=args,
                connect_kwargs=kwargs,
                dialect=self.kind if self.kind in DIALECTS else "odbc",
                columns=list(columns) if columns else None,
                schema_ddl=schema_ddl,
            )
        return (
            spark.read.format("jdbc")
            .options(**self.jdbc_options(table, **partitioning))
            .load()
        )

    # ---- DDL generation (server executes; transport is driver-level) -----
    def create_table_sql(self, table: str, schema, primary_keys=()) -> str:
        from datafusion_table_providers_spark.core.types import create_table_ddl

        # Per-dialect type matrix + quoting (statement.rs:1297-1339 analog;
        # postgres/mysql/clickhouse render their own names, odbc/adbc emit
        # ANSI passthrough).
        return create_table_ddl(table, schema, self.kind, primary_keys=primary_keys)
