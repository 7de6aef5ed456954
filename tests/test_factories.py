"""Public factory API tests — signature parity with the reference's Python
surface (python/python/datafusion_table_providers/*.py)."""

import pyarrow as pa
import pyarrow.flight as flight
import pytest
from pyspark.sql import types as T

from datafusion_table_providers_spark.engine import Engine
from datafusion_table_providers_spark.factories import (
    AccessMode,
    DuckDBTableFactory,
    FlightTableFactory,
    SqliteTableFactory,
)
from datafusion_table_providers_spark.write import writer

from tests.conftest import serving

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType(), False), T.StructField("v", T.StringType())]
)


def test_duckdb_factory_tables_and_get_table(spark, tmp_path):
    path = str(tmp_path / "f.duckdb")
    from datafusion_table_providers_spark.sources.backends import DuckDBBackend

    b = DuckDBBackend(path)
    writer.insert_into(b, "people", spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    writer.insert_into(b, "pets", spark.createDataFrame([(1, "rex")], SCHEMA))
    b.close()

    factory = DuckDBTableFactory(path, AccessMode.ReadOnly).with_session(spark)
    assert sorted(factory.tables()) == ["people", "pets"]
    df = factory.get_table("people")
    assert df.count() == 2

    eng = Engine(spark)
    names = factory.register_all(eng)
    assert sorted(names) == ["people", "pets"]
    out = eng.sql("SELECT COUNT(*) AS n FROM people JOIN pets ON people.id = pets.id")
    assert out.collect()[0]["n"] == 1
    assert eng.explain_federation("SELECT * FROM people JOIN pets ON 1=1").startswith(
        "federated"
    )


def test_duckdb_factory_memory(spark):
    factory = DuckDBTableFactory().with_session(spark)
    factory.backend.execute("CREATE TABLE m AS SELECT 42 AS x")
    assert factory.tables() == ["m"]
    assert factory.get_table("m").collect()[0]["x"] == 42


def test_sqlite_factory(spark, tmp_path):
    path = str(tmp_path / "f.db")
    from datafusion_table_providers_spark.sources.backends import SQLiteBackend

    b = SQLiteBackend(path)
    writer.insert_into(b, "t", spark.createDataFrame([(1, "x")], SCHEMA))
    factory = SqliteTableFactory(path).with_session(spark)
    assert factory.tables() == ["t"]
    assert factory.get_table("t").count() == 1


class OneShotServer(flight.FlightServerBase):
    def __init__(self):
        super().__init__("grpc://127.0.0.1:0")
        self.table = pa.table({"id": pa.array([1, 2, 3], pa.int64())})

    def get_flight_info(self, context, descriptor):
        return flight.FlightInfo(
            self.table.schema, descriptor,
            [flight.FlightEndpoint(b"t", [])], -1, -1,
        )

    def do_get(self, context, ticket):
        return flight.RecordBatchStream(self.table)


def test_flight_factory(spark):
    with serving(OneShotServer()) as s:
        factory = FlightTableFactory().with_session(spark)
        df = factory.get_table(
            f"grpc://127.0.0.1:{s.port}",
            {"flight.sql.query": "SELECT * FROM anything"},
        )
        assert sorted(r["id"] for r in df.collect()) == [1, 2, 3]


def test_clickhouse_arg_key_injection_rejected(spark):
    from datafusion_table_providers_spark.factories import ClickHouseTableFactory

    f = ClickHouseTableFactory({"url": "tcp://localhost:9000"})
    with pytest.raises(ValueError, match="not a valid identifier"):
        f.get_table("param_view", args={"k=1) ; DROP TABLE x; --": "v"})


def test_adbc_factory_arrow_native_path(spark, tmp_path):
    """ADBCTableFactory scans through the Arrow-native cursor: schema comes
    from the authoritative Arrow schema (a DECIMAL column keeps its exact
    type — row-sampling introspection would widen it to Decimal(38,18)),
    and the executor read takes the fetch_arrow_table fast path."""
    import duckdb

    from datafusion_table_providers_spark.factories import ADBCTableFactory

    path = str(tmp_path / "adbc.duckdb")
    con = duckdb.connect(path)
    con.execute(
        "CREATE TABLE t (id BIGINT, price DECIMAL(12,2), d DATE)"
    )
    con.execute(
        "INSERT INTO t SELECT range, range * 1.01, DATE '2024-01-01' "
        "FROM range(100)"
    )
    con.close()
    f = ADBCTableFactory(
        {
            "driver": "duckdb",
            "connect_args": [path],
            "connect_kwargs": {"read_only": True},
        }
    ).with_session(spark)
    df = f.get_table("t")
    assert dict(df.dtypes)["price"] == "decimal(12,2)"
    assert df.count() == 100
    # pushed filter + pruned projection still apply on the ADBC dialect
    df2 = f.get_table("t", columns=["id", "price"]).filter("id >= 90")
    assert df2.count() == 10


def test_factory_tables_parity(spark, tmp_path):
    """Every reference factory exposes tables(); server-backed ones raise a
    clear ConnectionError without a live server, and the ADBC path lists
    live against its in-env DuckDB target."""
    import duckdb

    from datafusion_table_providers_spark.factories import (
        ADBCTableFactory,
        MongoDBTableFactory,
        MySQLTableFactory,
        PostgresTableFactory,
    )

    path = str(tmp_path / "lst.duckdb")
    con = duckdb.connect(path)
    con.execute("CREATE TABLE aa (x INT); CREATE TABLE bb (y INT)")
    con.close()
    f = ADBCTableFactory({"driver": "duckdb", "connect_args": [path]})
    assert f.tables() == ["aa", "bb"]

    for factory in (
        PostgresTableFactory({"host": "127.0.0.1", "port": "1"}),
        MySQLTableFactory({"host": "127.0.0.1", "port": "1"}),
        MongoDBTableFactory({"host": "127.0.0.1"}),
    ):
        with pytest.raises(ConnectionError, match="requires"):
            factory.tables()
