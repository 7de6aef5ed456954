"""Generic DB-API connector tests (sources/dbapi_source.py).

The stdlib ``sqlite3`` module is a full DB-API 2.0 driver, so the generic
path — connect inside the executor task, generated SELECT with pruned
projection + pushed filters, chunked rows→Arrow conversion, schema
introspection with and without declared DDL — is integration-tested end to
end with no server. Server drivers (pyodbc / adbc / psycopg) exercise the
exact same code path; their tests gate on importability, the pattern the
reference uses for dockerized backends (core/tests/integration.rs:1-35).
"""

from __future__ import annotations

import importlib.util
import sqlite3

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def db(tmp_path):
    path = str(tmp_path / "dbapi.db")
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE inv (id INTEGER PRIMARY KEY, name TEXT, qty INTEGER, "
        "price REAL, tag BLOB)"
    )
    con.executemany(
        "INSERT INTO inv VALUES (?, ?, ?, ?, ?)",
        [(i, f"item{i}", i * 3, i * 1.5, bytes([i % 256])) for i in range(200)],
    )
    con.commit()
    con.close()
    return path


def test_dbapi_scan_with_declared_schema(spark, db):
    from datafusion_table_providers_spark.sources.dbapi_source import (
        dbapi_reader_df,
    )

    df = dbapi_reader_df(
        spark,
        "sqlite3",
        "inv",
        connect_args=[db],
        schema_ddl="id BIGINT, name STRING, qty BIGINT, price DOUBLE, tag BINARY",
    )
    assert df.count() == 200
    row = df.filter(F.col("id") == 7).collect()[0]
    assert (row.name, row.qty, row.price) == ("item7", 21, 10.5)


def test_dbapi_schema_inference(spark, db):
    from datafusion_table_providers_spark.sources.dbapi_source import (
        dbapi_reader_df,
    )

    df = dbapi_reader_df(spark, "sqlite3", "inv", connect_args=[db])
    kinds = {f.name: f.dataType.typeName() for f in df.schema.fields}
    assert kinds["id"] == "long"
    assert kinds["name"] == "string"
    assert kinds["price"] == "double"
    assert kinds["tag"] == "binary"


def test_dbapi_pruning_and_filter_pushdown(spark, db):
    from datafusion_table_providers_spark.sources.dbapi_source import (
        DBAPIReader,
        dbapi_reader_df,
    )
    import json

    df = dbapi_reader_df(
        spark,
        "sqlite3",
        "inv",
        connect_args=[db],
        columns=["id", "qty"],
        schema_ddl="id BIGINT, name STRING, qty BIGINT, price DOUBLE, tag BINARY",
    )
    assert df.columns == ["id", "qty"]
    filtered = df.filter(F.col("qty") > 500)
    plan = filtered._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan  # pushed Exact into the generated SQL
    assert filtered.count() == 33

    reader = DBAPIReader(
        None,
        {
            "module": "sqlite3",
            "relation": "inv",
            "columns": json.dumps(["id", "qty"]),
        },
    )
    assert reader.scan_sql() == 'SELECT "id", "qty" FROM inv'


def test_dbapi_through_remote_backend(spark, db):
    """RemoteSqlBackend with transport=dbapi routes reader_df through the
    Python data source — the server-connector shape without a JVM jar."""
    from datafusion_table_providers_spark.sources.remote_sql import (
        RemoteSqlBackend,
    )

    b = RemoteSqlBackend(
        "odbc", "", 0, db, "u", properties={"transport": "dbapi"}
    )
    # swap the module spec to the locally-available driver
    module, args, kwargs = "sqlite3", [db], {}
    b.dbapi_spec = lambda: (module, args, kwargs)
    df = b.reader_df(
        spark,
        "inv",
        columns=["id", "name"],
        schema_ddl="id BIGINT, name STRING, qty BIGINT, price DOUBLE, tag BINARY",
    )
    assert df.columns == ["id", "name"]
    assert df.count() == 200


@pytest.mark.skipif(
    importlib.util.find_spec("pyodbc") is None, reason="pyodbc not installed"
)
def test_pyodbc_live(spark):  # pragma: no cover - gated on driver presence
    from datafusion_table_providers_spark.sources.remote_sql import (
        RemoteSqlBackend,
    )
    import os

    dsn = os.environ.get("DTPS_ODBC_DSN")
    if not dsn:
        pytest.skip("set DTPS_ODBC_DSN to run the live ODBC scan")
    b = RemoteSqlBackend("odbc", "", 0, dsn, "")
    assert b.reader_df(spark, "information_schema.tables").count() >= 0


@pytest.mark.skipif(
    importlib.util.find_spec("adbc_driver_manager") is None,
    reason="adbc_driver_manager not installed",
)
def test_adbc_live(spark):  # pragma: no cover - gated on driver presence
    import os

    from datafusion_table_providers_spark.sources.remote_sql import (
        RemoteSqlBackend,
    )

    uri = os.environ.get("DTPS_ADBC_URI")
    if not uri:
        pytest.skip("set DTPS_ADBC_URI to run the live ADBC scan")
    b = RemoteSqlBackend(
        "adbc", "", 0, uri, "", properties=dict(
            driver=os.environ.get("DTPS_ADBC_DRIVER", "")
        )
    )
    assert b.reader_df(spark, "t").count() >= 0


def test_dbapi_partitioned_scan(spark, db):
    """Range-partitioned parallel read: disjoint slices, complete union,
    per-slice SQL carries the range clause."""
    import json

    from datafusion_table_providers_spark.sources.dbapi_source import (
        DBAPIReader,
        dbapi_reader_df,
    )

    df = dbapi_reader_df(
        spark,
        "sqlite3",
        "inv",
        connect_args=[db],
        dialect="sqlite",
        columns=["id", "qty"],
        schema_ddl="id BIGINT, qty BIGINT",
        partition_column="id",
        num_partitions=4,
    )
    assert df.rdd.getNumPartitions() == 4
    rows = df.collect()
    assert sorted(r.id for r in rows) == list(range(200))

    # slice SQL surface: reader with the same options
    con = __import__("sqlite3").connect(db)
    con.close()
    reader = DBAPIReader(
        df.schema,
        {
            "module": "sqlite3",
            "relation": "inv",
            "dialect": "sqlite",
            "connect_args": json.dumps([db]),
            "columns": json.dumps(["id", "qty"]),
            "partition_clauses": json.dumps(
                ['"id" < 50', '"id" >= 50 AND "id" < 100', '"id" >= 100']
            ),
        },
    )
    parts = reader.partitions()
    assert len(parts) == 3
    assert '"id" >= 50' in reader.scan_sql(parts[1])
