"""Flight connector test against a real in-process pyarrow Flight server.

Mirrors the reference's endpoint-per-partition contract
(crates/flightsql/src/exec.rs:54-130): the server announces 2 endpoints and
Spark must produce one input partition per endpoint."""

import pyarrow as pa
import pyarrow.flight as flight
import pytest

from tests.conftest import serving


class TwoEndpointServer(flight.FlightServerBase):
    """Serves a table split across two endpoints (tickets 'p0'/'p1')."""

    def __init__(self):
        super().__init__("grpc://127.0.0.1:0")
        self.table = pa.table(
            {
                "id": pa.array(range(100), pa.int64()),
                "name": pa.array([f"r{i}" for i in range(100)]),
            }
        )

    def get_flight_info(self, context, descriptor):
        endpoints = [
            flight.FlightEndpoint(b"p0", []),
            flight.FlightEndpoint(b"p1", []),
        ]
        return flight.FlightInfo(
            self.table.schema, descriptor, endpoints, -1, -1
        )

    def do_get(self, context, ticket):
        half = self.table.num_rows // 2
        if ticket.ticket == b"p0":
            return flight.RecordBatchStream(self.table.slice(0, half))
        return flight.RecordBatchStream(self.table.slice(half))


@pytest.fixture(scope="module")
def server():
    with serving(TwoEndpointServer()) as s:
        yield s


def test_flight_partition_per_endpoint(spark, server):
    from datafusion_table_providers_spark.sources.flight_source import (
        flight_reader_df,
    )

    df = flight_reader_df(
        spark, f"grpc://127.0.0.1:{server.port}", query="SELECT everything"
    )
    assert df.rdd.getNumPartitions() == 2  # endpoint == partition
    assert df.count() == 100
    got = sorted(r["id"] for r in df.collect())
    assert got == list(range(100))


def test_flight_schema_introspection(spark, server):
    from datafusion_table_providers_spark.sources.flight_source import (
        flight_reader_df,
    )

    df = flight_reader_df(
        spark, f"grpc://127.0.0.1:{server.port}", query="q"
    )
    assert [f.name for f in df.schema.fields] == ["id", "name"]
    assert df.schema.fields[0].dataType.typeName() == "long"


def test_enforce_schema_casts():
    from datafusion_table_providers_spark.sources.flight_source import (
        enforce_schema,
    )

    batch = pa.record_batch(
        [pa.array([1, 2], pa.int32())], schema=pa.schema([("a", pa.int32())])
    )
    target = pa.schema([("a", pa.int64())])
    out = enforce_schema(batch, target)
    assert out.schema == target
    assert out.column(0).to_pylist() == [1, 2]


class VariantEncodingServer(flight.FlightServerBase):
    """Declares plain utf8 in FlightInfo but one endpoint streams a
    dictionary-encoded variant — the reader must cast every batch to the
    DECLARED schema, not whichever batch arrived first (exec.rs:226-265)."""

    def __init__(self):
        super().__init__("grpc://127.0.0.1:0")
        self.declared = pa.schema([("id", pa.int64()), ("name", pa.utf8())])

    def get_flight_info(self, context, descriptor):
        endpoints = [
            flight.FlightEndpoint(b"plain", []),
            flight.FlightEndpoint(b"dict", []),
        ]
        return flight.FlightInfo(self.declared, descriptor, endpoints, -1, -1)

    def do_get(self, context, ticket):
        if ticket.ticket == b"plain":
            t = pa.table(
                {"id": pa.array([1, 2], pa.int64()), "name": ["a", "b"]}
            )
            return flight.RecordBatchStream(t)
        dict_arr = pa.array(["c", "d"]).dictionary_encode()
        t = pa.table(
            {"id": pa.array([3, 4], pa.int64()), "name": dict_arr}
        )
        return flight.RecordBatchStream(t)


@pytest.fixture(scope="module")
def variant_server():
    with serving(VariantEncodingServer()) as s:
        yield s


def test_variant_endpoint_casts_to_declared_schema(spark, variant_server):
    from datafusion_table_providers_spark.sources.flight_source import (
        flight_reader_df,
    )

    df = flight_reader_df(
        spark, f"grpc://127.0.0.1:{variant_server.port}", query="q"
    )
    rows = sorted((r["id"], r["name"]) for r in df.collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
