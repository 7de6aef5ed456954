"""Unbounded Flight → Structured Streaming source test: an in-process server
exposes a cursor-ticket protocol; the stream must deliver all rows exactly
once across microbatches."""

import json

import pyarrow as pa
import pyarrow.flight as flight
import pytest

from tests.conftest import serving


class CursorServer(flight.FlightServerBase):
    """Serves rows [pos, pos+max_rows) of a fixed 250-row table."""

    def __init__(self):
        super().__init__("grpc://127.0.0.1:0")
        self.table = pa.table(
            {
                "id": pa.array(range(250), pa.int64()),
                "v": pa.array([i * 0.5 for i in range(250)], pa.float64()),
            }
        )

    def do_get(self, context, ticket):
        req = json.loads(ticket.ticket.decode())
        pos, max_rows = req["pos"], req.get("max_rows", 10000)
        chunk = self.table.slice(pos, max_rows if max_rows else 0)
        if max_rows == 0:
            chunk = self.table.slice(0, 0)
        return flight.RecordBatchStream(chunk)


@pytest.fixture(scope="module")
def cursor_server():
    with serving(CursorServer()) as s:
        yield s


def test_flight_stream_delivers_all_rows(spark, cursor_server, tmp_path):
    from datafusion_table_providers_spark.streaming.flight_stream import register

    register(spark)
    stream = (
        spark.readStream.format("flight_stream")
        .option("location", f"grpc://127.0.0.1:{cursor_server.port}")
        .option("maxRowsPerBatch", 100)  # forces 3+ microbatches
        .load()
    )
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == ["id", "v"]
    import time

    q = (
        stream.writeStream.format("memory")
        .queryName("flight_rows")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 240  # generous: flakes at 90s under full-suite load
        while time.time() < deadline:
            if spark.table("flight_rows").count() >= 250:
                break
            time.sleep(1)
    finally:
        q.stop()
    got = spark.table("flight_rows").collect()
    assert sorted(r["id"] for r in got) == list(range(250))  # exactly once
