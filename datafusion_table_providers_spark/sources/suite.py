"""Connector-backed correctness queries (SURVEY §2.A operators end-to-end).

Each query routes the driver's parquet data *through the engine*: DuckDB /
SQLite connectors with pushdown, whole-plan federation, and the write path
(append / upsert / delete / update round-trips). The DuckDB oracle runs the
equivalent plain SQL on the raw parquet — so a pass certifies the connector
pipeline, not just Catalyst.

Temp databases are rebuilt per (sf_dir) in the process's
``session.scratch_dir()``, keyed by scale so repeated runs are idempotent,
and removed with that directory at interpreter exit.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from datafusion_table_providers_spark import session
from datafusion_table_providers_spark.core.case import QueryCase, utc
from datafusion_table_providers_spark.engine import Engine
from datafusion_table_providers_spark.operators.relational import _r, _rsql, _scan, _t
from datafusion_table_providers_spark.session import bounded_broadcast, scratch_dir
from datafusion_table_providers_spark.sources.backends import (
    DuckDBBackend,
    SQLiteBackend,
)
from datafusion_table_providers_spark.write import writer
from datafusion_table_providers_spark.write.on_conflict import OnConflict


def _tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")


def _pq(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _duckdb_parquet_backend(sf_dir: str) -> DuckDBBackend:
    """A :memory: DuckDB whose tables are read_parquet views (A11)."""
    return DuckDBBackend(
        parquet_tables={
            n: _pq(sf_dir, n)
            for n in ("nation", "region", "customer", "orders", "supplier", "part")
        }
    )


# --- C1: DuckDB connector scan with filter pushdown ----------------------
def c01_duckdb_scan_pushdown(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    backend = _duckdb_parquet_backend(sf_dir)
    # projection pruned to exactly the columns the plan touches (3 output +
    # the filter-only o_orderstatus, which the pushed WHERE consumes remotely)
    df = duckdb_reader_df(
        spark,
        backend,
        "orders",
        columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"],
    )
    return df.filter(
        (F.col("o_totalprice") > 300000) & (F.col("o_orderstatus") == "O")
    ).select("o_orderkey", "o_custkey", "o_totalprice")


C01_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
WHERE o_totalprice > 300000 AND o_orderstatus = 'O'
"""


# --- C2: partitioned (parallel) DuckDB connector scan + aggregation ------
def c02_duckdb_partitioned_scan(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    backend = _duckdb_parquet_backend(sf_dir)
    df = duckdb_reader_df(
        spark,
        backend,
        "orders",
        partition_column="o_orderkey",
        num_partitions=8,
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        _r(F.sum("o_totalprice"), 2).alias("total"),
    )


C02_SQL = f"""
SELECT o_orderstatus, COUNT(*) AS n, {_rsql('SUM(o_totalprice)', 2)} AS total
FROM orders GROUP BY o_orderstatus
"""


# --- C3: whole-plan federation — join + agg pushed as ONE SQL ------------
def c03_federation_pushdown(spark, sf_dir):
    utc(spark)
    eng = Engine(spark)
    backend = _duckdb_parquet_backend(sf_dir)
    eng.register_backend_table("fed_nation", backend, "nation")
    eng.register_backend_table("fed_region", backend, "region")
    assert eng.explain_federation(
        "SELECT 1 FROM fed_nation JOIN fed_region ON 1=1"
    ).startswith("federated")
    return eng.sql(
        """
        SELECT r_name, COUNT(*) AS n_nations
        FROM fed_nation JOIN fed_region ON n_regionkey = r_regionkey
        GROUP BY r_name
        """
    )


C03_SQL = """
SELECT r_name, COUNT(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


# --- C4: DuckDB write path — append round-trip ---------------------------
def c04_duckdb_write_roundtrip(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    path = os.path.join(scratch_dir(), f"engine_w_{_tag(sf_dir)}.duckdb")
    if os.path.exists(path):
        os.remove(path)
    backend = DuckDBBackend(path)
    src = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= 500
    )
    writer.insert_into(
        backend, "customer_copy", src, mode="append", primary_keys=["c_custkey"]
    )
    backend.close()  # release RW lock → executors open read-only
    df = duckdb_reader_df(spark, backend, "customer_copy")
    return df.select("c_custkey", "c_name", "c_acctbal")


C04_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey <= 500
"""


# --- C5: upsert (ON CONFLICT DO UPDATE) ----------------------------------
def c05_duckdb_upsert(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    path = os.path.join(scratch_dir(), f"engine_u_{_tag(sf_dir)}.duckdb")
    if os.path.exists(path):
        os.remove(path)
    backend = DuckDBBackend(path)
    cust = _t(spark, sf_dir, "customer")
    base = cust.filter(F.col("c_custkey") <= 300)
    writer.insert_into(
        backend, "cust", base, mode="append", primary_keys=["c_custkey"]
    )
    # second wave overlaps [200, 400]: rows 200-300 must be UPDATED
    wave2 = (
        cust.filter((F.col("c_custkey") > 200) & (F.col("c_custkey") <= 400))
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
    )
    writer.insert_into(
        backend,
        "cust",
        wave2,
        mode="append",
        on_conflict=OnConflict.upsert(["c_custkey"]),
        create=False,
    )
    backend.close()  # release RW lock -> executors open read-only
    df = duckdb_reader_df(spark, backend, "cust", columns=["c_custkey", "c_acctbal"])
    return df


C05_SQL = """
SELECT c_custkey,
       CASE WHEN c_custkey > 200 THEN c_acctbal + 1000.0 ELSE c_acctbal END AS c_acctbal
FROM customer WHERE c_custkey <= 400
"""


# --- C6: DELETE + UPDATE DML ---------------------------------------------
def c06_duckdb_dml(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    path = os.path.join(scratch_dir(), f"engine_d_{_tag(sf_dir)}.duckdb")
    if os.path.exists(path):
        os.remove(path)
    backend = DuckDBBackend(path)
    nat = _t(spark, sf_dir, "nation")
    writer.insert_into(backend, "nat", nat, mode="append")
    n_del = writer.delete_from(backend, "nat", "n_regionkey = 0")
    n_upd = writer.update(
        backend, "nat", {"n_name": "lower(n_name)"}, "n_regionkey = 1"
    )
    assert n_del > 0 and n_upd > 0
    backend.close()
    return duckdb_reader_df(
        spark, backend, "nat", columns=["n_nationkey", "n_name", "n_regionkey"]
    )


C06_SQL = """
SELECT n_nationkey,
       CASE WHEN n_regionkey = 1 THEN lower(n_name) ELSE n_name END AS n_name,
       n_regionkey
FROM nation WHERE n_regionkey <> 0
"""


# --- C7: SQLite write + connector read round-trip ------------------------
def c07_sqlite_roundtrip(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.sources.sqlite_source import (
        sqlite_reader_df,
    )

    path = os.path.join(scratch_dir(), f"engine_s_{_tag(sf_dir)}.db")
    if os.path.exists(path):
        os.remove(path)
    backend = SQLiteBackend(path)
    sup = _t(spark, sf_dir, "supplier")
    writer.insert_into(
        backend, "supplier_copy", sup, mode="append", primary_keys=["s_suppkey"]
    )
    df = sqlite_reader_df(
        spark,
        backend,
        "supplier_copy",
        columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )
    return (
        df.filter(F.col("s_acctbal") > 5000)
        .select(
            "s_suppkey",
            "s_name",
            F.col("s_nationkey").cast("int").alias("s_nationkey"),
            "s_acctbal",
        )
    )


C07_SQL = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal
FROM supplier WHERE s_acctbal > 5000
"""


# --- C8: overwrite atomicity ---------------------------------------------
def c08_duckdb_overwrite(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    path = os.path.join(scratch_dir(), f"engine_o_{_tag(sf_dir)}.duckdb")
    if os.path.exists(path):
        os.remove(path)
    backend = DuckDBBackend(path)
    reg = _t(spark, sf_dir, "region")
    writer.insert_into(backend, "reg", reg, mode="append")
    # overwrite with a transformed generation — old data must fully vanish
    reg2 = reg.withColumn("r_name", F.concat(F.lit("NEW_"), F.col("r_name")))
    writer.insert_into(backend, "reg", reg2, mode="overwrite", create=False)
    backend.close()
    return duckdb_reader_df(
        spark, backend, "reg", columns=["r_regionkey", "r_name"]
    )


C08_SQL = "SELECT r_regionkey, 'NEW_' || r_name AS r_name FROM region"


# --- C9: generic DB-API 2.0 transport scan (A2/A3/A4 over any driver) -----
def c09_dbapi_scan(spark, sf_dir):
    """Certifies the executor-side DB-API transport end-to-end: write the
    part table into SQLite, scan it back through ``dbapi_reader_df`` (stdlib
    sqlite3 — the same code path pyodbc / ADBC / psycopg drivers take) with
    pruned columns, a pushed filter, and a 4-way range-partitioned parallel
    read. Reference analog: the live-backend scans in
    crates/postgres/src/lib.rs + crates/odbc/src/conn.rs."""
    utc(spark)
    from datafusion_table_providers_spark.sources.dbapi_source import (
        dbapi_reader_df,
    )

    path = os.path.join(scratch_dir(), f"engine_dbapi_{_tag(sf_dir)}.db")
    if os.path.exists(path):
        os.remove(path)
    backend = SQLiteBackend(path)
    part = _t(spark, sf_dir, "part")
    writer.insert_into(
        backend, "part_copy", part, mode="append", primary_keys=["p_partkey"]
    )
    df = dbapi_reader_df(
        spark,
        "sqlite3",
        "part_copy",
        connect_args=[path],
        dialect="sqlite",
        columns=["p_partkey", "p_brand", "p_size", "p_retailprice"],
        schema_ddl=(
            "p_partkey BIGINT, p_brand STRING, p_size BIGINT, "
            "p_retailprice DOUBLE"
        ),
        partition_column="p_partkey",
        num_partitions=4,
    )
    return df.filter(F.col("p_size") > 40)


C09_SQL = """
SELECT p_partkey, p_brand, CAST(p_size AS BIGINT) AS p_size, p_retailprice
FROM part WHERE p_size > 40
"""


# --- C10: Flight scan (A14) — in-process server, real gRPC transport -----
# The one §2.A connector family with no driver row (VERDICT r2): Flight.
# An in-process pyarrow Flight server serves the orders table across 4
# endpoints (the reference's endpoint-per-partition contract,
# crates/flightsql/src/exec.rs:54-130); Spark scans it over real gRPC via
# flight_source and aggregates. The server is a test stand-in the same way
# c07's temp SQLite file is — the transport, partitioning and declared-
# schema cast paths are the production code. Servers are kept per sf_dir
# for the session (daemon threads).
_FLIGHT_SERVERS: dict = {}


def _orders_flight_server(sf_dir: str):
    import threading

    import pyarrow.flight as flight
    import pyarrow.parquet as pq_mod

    key = os.path.normpath(sf_dir)
    if key in _FLIGHT_SERVERS:
        return _FLIGHT_SERVERS[key]
    table = pq_mod.read_table(
        _pq(sf_dir, "orders"),
        columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
    )

    class _OrdersServer(flight.FlightServerBase):
        def __init__(self):
            super().__init__("grpc://127.0.0.1:0")

        def get_flight_info(self, context, descriptor):
            eps = [
                flight.FlightEndpoint(f"p{i}".encode(), []) for i in range(4)
            ]
            return flight.FlightInfo(table.schema, descriptor, eps, -1, -1)

        def do_get(self, context, ticket):
            i = int(ticket.ticket[1:])
            quarter = (table.num_rows + 3) // 4
            return flight.RecordBatchStream(
                table.slice(i * quarter, quarter)
            )

    s = _OrdersServer()
    threading.Thread(target=s.serve, daemon=True).start()
    _FLIGHT_SERVERS[key] = s
    return s


def c10_flight_scan(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.sources.flight_source import (
        flight_reader_df,
    )
    from datafusion_table_providers_spark.operators.relational import _r

    s = _orders_flight_server(sf_dir)
    df = flight_reader_df(
        spark, f"grpc://127.0.0.1:{s.port}", query="orders"
    )
    return df.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        _r(F.sum("o_totalprice"), 2).alias("total"),
    )


C10_SQL = C02_SQL  # same aggregate truth, different transport under test


SUITE = {
    "c01_duckdb_scan_pushdown": QueryCase(
        c01_duckdb_scan_pushdown, C01_SQL, "A1-A5 DuckDB scan + filter pushdown"
    ),
    "c02_duckdb_partitioned_scan": QueryCase(
        c02_duckdb_partitioned_scan, C02_SQL, "partitioned connector scan"
    ),
    "c03_federation_pushdown": QueryCase(
        c03_federation_pushdown, C03_SQL, "A7 whole-plan federation"
    ),
    "c04_duckdb_write_roundtrip": QueryCase(
        c04_duckdb_write_roundtrip, C04_SQL, "A16 INSERT append round-trip"
    ),
    "c05_duckdb_upsert": QueryCase(
        c05_duckdb_upsert, C05_SQL, "A18 upsert ON CONFLICT"
    ),
    "c06_duckdb_dml": QueryCase(c06_duckdb_dml, C06_SQL, "A19/A20 DELETE+UPDATE"),
    "c07_sqlite_roundtrip": QueryCase(
        c07_sqlite_roundtrip, C07_SQL, "SQLite write + connector read"
    ),
    "c08_duckdb_overwrite": QueryCase(
        c08_duckdb_overwrite, C08_SQL, "A17 atomic INSERT overwrite"
    ),
    "c09_dbapi_scan": QueryCase(
        c09_dbapi_scan, C09_SQL, "generic DB-API transport scan (pruned+pushed)"
    ),
}

from datafusion_table_providers_spark.operators.relational import _merged

c05b_upsert_dml, C05B_SQL = _merged(
    ("c05", c05_duckdb_upsert, C05_SQL),
    ("c06", c06_duckdb_dml, C06_SQL),
)
SUITE["c05b_upsert_dml"] = QueryCase(
    c05b_upsert_dml, C05B_SQL, "A18 upsert + A19/A20 DELETE/UPDATE (merged)"
)

# --- C11: catalog provider (A26) — views across native + connector -------
# DatabaseSchemaProvider analog (crates/common/src/common.rs:18-95): a
# parquet-native table and a connector-backed table registered through the
# Engine resolve in ONE spark.sql statement. Certifies registration,
# view resolution, and the connector scan under a SQL join driver-side.
def c11_catalog_views(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    eng = Engine(spark)
    eng.register_parquet("cat_orders", _pq(sf_dir, "orders"))
    # auto_broadcast: the row-count statistic marks the dim broadcastable
    # (Python-DS scans expose no stats, so Catalyst would shuffle-join it)
    cdf = duckdb_reader_df(
        spark,
        _duckdb_parquet_backend(sf_dir),
        "customer",
        columns=["c_custkey", "c_mktsegment"],
        auto_broadcast=True,
    )
    eng.register_dataframe("cat_customer", cdf)
    # NB: Spark SQL parses bare `100.0` as DECIMAL (DataFrame F.lit(100.0)
    # is DOUBLE), so the rounding formula spells its literals as explicit
    # DOUBLE casts to keep the whole expression in IEEE doubles like the
    # oracle's
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n,
               FLOOR(SUM(o_totalprice) * CAST(100 AS DOUBLE)
                     + CAST(0.5 AS DOUBLE)) / CAST(100 AS DOUBLE) AS total
        FROM cat_orders JOIN cat_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """
    )


C11_SQL = f"""
SELECT c_mktsegment, COUNT(*) AS n, {_rsql('SUM(o_totalprice)', 2)} AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


SUITE["c11_catalog_views"] = QueryCase(
    c11_catalog_views, C11_SQL, "A26 catalog views: native + connector join"
)

SUITE["c10_flight_scan"] = QueryCase(
    c10_flight_scan, C10_SQL, "A14 Flight multi-endpoint scan (in-process gRPC)"
)
c02b_partitioned_scans, C02B_SQL = _merged(
    ("c02", c02_duckdb_partitioned_scan, C02_SQL),
    ("c10", c10_flight_scan, C10_SQL),
)
SUITE["c02b_partitioned_scans"] = QueryCase(
    c02b_partitioned_scans,
    C02B_SQL,
    "partitioned scans: DuckDB range slices + Flight endpoints (merged)",
)

# --- C13: SQLite DELETE/UPDATE — the non-RETURNING counting path ----------
# c06 certifies DML on DuckDB (RETURNING 1 counting); this row certifies
# the other writer branch: SQLite's cursor.rowcount counting through
# render_delete/render_update, then a connector read-back.
def c13_sqlite_dml(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.sources.sqlite_source import (
        sqlite_reader_df,
    )

    path = os.path.join(scratch_dir(), f"engine_sdml_{_tag(sf_dir)}.db")
    if os.path.exists(path):
        os.remove(path)
    backend = SQLiteBackend(path)
    nat = _t(spark, sf_dir, "nation")
    writer.insert_into(backend, "nat", nat, mode="append")
    n_del = writer.delete_from(backend, "nat", "n_regionkey = 0")
    n_upd = writer.update(
        backend, "nat", {"n_name": "lower(n_name)"}, "n_regionkey = 1"
    )
    assert n_del > 0 and n_upd > 0  # rowcount (not RETURNING) counting
    df = sqlite_reader_df(
        backend=backend,
        spark=spark,
        relation="nat",
        columns=["n_nationkey", "n_name", "n_regionkey"],
    )
    return df.select(
        "n_nationkey",
        "n_name",
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
    )


C13_SQL = """
SELECT n_nationkey,
       CASE WHEN n_regionkey = 1 THEN lower(n_name) ELSE n_name END AS n_name,
       n_regionkey
FROM nation WHERE n_regionkey <> 0
"""


SUITE["c13_sqlite_dml"] = QueryCase(
    c13_sqlite_dml, C13_SQL, "SQLite DELETE/UPDATE via rowcount counting"
)


# --- C12: ADBC-style Arrow-native scan (crates/adbc analog) ---------------
# The last reference backend with no named counterpart (VERDICT r3 gap 5):
# an ADBCTableFactory scan whose executor tasks pull results via the
# driver's Arrow-native cursor (cursor.fetch_arrow_table — zero row
# conversion) and whose schema comes from the authoritative Arrow schema,
# not row sampling. DuckDB's DB-API module is the in-env ADBC-shaped
# driver (no adbc_driver_* wheels ship here); the factory/transport code
# is driver-agnostic.
def c12_adbc_scan(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.factories import ADBCTableFactory

    path = os.path.join(scratch_dir(), f"engine_adbc_{_tag(sf_dir)}.duckdb")
    if os.path.exists(path):
        os.remove(path)
    backend = DuckDBBackend(path)
    sup = _t(spark, sf_dir, "supplier")
    writer.insert_into(
        backend, "supplier_adbc", sup, mode="append", primary_keys=["s_suppkey"]
    )
    backend.close()  # release RW lock -> executor tasks open read-only
    factory = ADBCTableFactory(
        {
            "driver": "duckdb",
            "connect_args": [path],
            "connect_kwargs": {"read_only": True},
        }
    ).with_session(spark)
    df = factory.get_table(
        "supplier_adbc",
        columns=["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        partition_column="s_suppkey",
        num_partitions=4,
    )
    return df.filter(F.col("s_nationkey") < 10)


C12_SQL = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal
FROM supplier WHERE s_nationkey < 10
"""


SUITE["c12_adbc_scan"] = QueryCase(
    c12_adbc_scan, C12_SQL, "ADBC Arrow-native factory scan (crates/adbc)"
)

c03b_federation_catalog, C03B_SQL = _merged(
    ("c03", c03_federation_pushdown, C03_SQL),
    ("c11", c11_catalog_views, C11_SQL),
)
SUITE["c03b_federation_catalog"] = QueryCase(
    c03b_federation_catalog,
    C03B_SQL,
    "A7 federation + A26 catalog views (merged)",
)


# --- C14: incremental dedup against a connector-stored signature index ----
# The composition the table-provider layer exists for: an LLM-pipeline
# artifact (MinHash signature table, 1 row/doc — tiny next to the corpus)
# PERSISTED through the write path into DuckDB, scanned back executor-side
# through the connector, and band-joined against a fresh batch. The
# incremental-ingestion pattern at 100 TB: only the new batch is hashed
# (the stored index is never recomputed), and each LSH band join shuffles
# on the band key alone. Certifies write path + connector scan + LSH
# semantics in one row.
def c14_signature_store_dedup(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.llm.dedup import (
        N_BANDS,
        _signature_df,
    )
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    sig = _signature_df(spark, sf_dir)
    stored = sig.filter(F.col("doc_id") % 10 != 0)
    new = sig.filter(F.col("doc_id") % 10 == 0)

    # a per-process directory: two concurrent drivers (or xdist workers)
    # must not race on one store file — one would remove/rewrite it while
    # the other's executors are lazily scanning it
    app = spark.sparkContext.applicationId
    path = os.path.join(scratch_dir(), f"engine_sig_{_tag(sf_dir)}_{app}.duckdb")
    if os.path.exists(path):
        os.remove(path)
    backend = DuckDBBackend(path)
    writer.insert_into(
        backend, "sig_store", stored, mode="append", primary_keys=["doc_id"]
    )
    backend.close()  # release RW lock → executors open read-only

    stored_r = duckdb_reader_df(spark, backend, "sig_store")
    # ONE scan of the store, unpivoted to (doc, band, key), instead of a
    # 4-way union of per-band joins: the union form planned FOUR separate
    # connector BatchScans (Spark does not dedupe common Python-DS subplans)
    # — 4× the store fetch for identical semantics. A (band, key) match here
    # is exactly a band-b key equality there, so n_bands counts are
    # unchanged (guide §2.4: share one pass where the keys allow it).
    bands = [f"band{b}" for b in range(N_BANDS)]
    nb = new.unpivot(["doc_id"], bands, "band", "bk").select(
        F.col("doc_id").alias("new_doc"), "band", "bk"
    )
    sb = stored_r.unpivot(["doc_id"], bands, "band", "bk").select(
        F.col("doc_id").alias("stored_doc"), "band", "bk"
    )
    return (
        nb.join(sb, ["band", "bk"])
        .groupBy("new_doc", "stored_doc")
        .agg(F.count("*").alias("n_bands"))
    )


def _c14_sql() -> str:
    from datafusion_table_providers_spark.llm.dedup import N_BANDS, _sig_sql

    joins = "\nUNION ALL\n".join(
        f"SELECT n.doc_id AS new_doc, s.doc_id AS stored_doc "
        f"FROM new n JOIN stored s ON n.band{b} = s.band{b}"
        for b in range(N_BANDS)
    )
    return f"""
WITH sigb AS ({_sig_sql()}),
stored AS (SELECT * FROM sigb WHERE doc_id % 10 <> 0),
new AS (SELECT * FROM sigb WHERE doc_id % 10 = 0),
hits AS (
{joins}
)
SELECT new_doc, stored_doc, COUNT(*) AS n_bands
FROM hits GROUP BY new_doc, stored_doc
"""


SUITE["c14_signature_store_dedup"] = QueryCase(
    c14_signature_store_dedup,
    _c14_sql(),
    "incremental dedup vs connector-stored MinHash signature index",
)


# --- C15: runtime semi-join reduction (dynamic filter pushdown) ----------
# The fact scan's WHERE is computed at RUNTIME from the filtered dim's join
# keys (sources/dynamic_filter.py): the connector fetches only orders whose
# o_custkey survives the customer filter, instead of shipping every order
# to Spark for the join to discard. DataFusion's dynamic-filter-pushdown
# analog for the Python-DataSource boundary, which Spark's own runtime
# filters (DPP / bloom) cannot cross. The Spark-side broadcast join above
# the scan remains the truth — the clause is a superset filter (Inexact).
def c15_runtime_filter_scan(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.sources.dynamic_filter import (
        IN_LIST_MAX,
        duckdb_semijoin_scan,
    )

    dim = (
        _t(spark, sf_dir, "customer")
        .filter(
            (F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") == 5)
        )
        .select("c_custkey")
    )
    backend = _duckdb_parquet_backend(sf_dir)
    scan, strategy = duckdb_semijoin_scan(
        spark,
        backend,
        "orders",
        "o_custkey",
        dim,
        dim_key="c_custkey",
        columns=["o_custkey", "o_orderdate", "o_totalprice"],
    )
    # A clause must exist, but the LADDER chooses the strategy: at bench
    # SFs the dim is a few hundred keys (in_list); past IN_LIST_MAX (~SF100
    # for this filter) the fallback is the min/max range — both honor the
    # superset contract, so the row stays scale-portable. A dim that
    # matches no customer pushes FALSE ("empty"): the exact, empty answer.
    # The small-SF in_list expectation lives in tests/test_dynamic_filter.py.
    assert strategy in ("in_list", "range", "empty"), strategy
    # c_custkey is customer's key, so an in_list dim has at most
    # IN_LIST_MAX rows and an empty one none; a range dim is sized by one
    # count bounded at the gate's cap (neither side has a size estimate:
    # the scan is a Python data source, the dim a filtered parquet table)
    n_dim = {"in_list": IN_LIST_MAX, "empty": 0}.get(strategy)
    if n_dim is None:
        n_dim = dim.limit(session.BROADCAST_MAX_ROWS + 1).count()
    dim = bounded_broadcast(dim, n_dim)
    joined = scan.join(dim, scan.o_custkey == dim.c_custkey)
    return joined.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.count("*").alias("n_orders"),
        _r(F.sum("o_totalprice")).alias("total_price"),
    )


C15_SQL = f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS order_year,
       COUNT(*) AS n_orders,
       {_rsql("SUM(o_totalprice)")} AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND c_nationkey = 5
GROUP BY order_year
"""


SUITE["c15_runtime_filter_scan"] = QueryCase(
    c15_runtime_filter_scan,
    C15_SQL,
    "runtime semi-join reduction pushed into the connector scan SQL",
)


# --- C16: small-file compaction round-trip -------------------------------
# Table maintenance certified like any query: fragment the documents table
# into 64 tiny parquet files (a simulated streaming-sink aftermath),
# compact with clustering on doc_id (write/output.py::compact_dataset —
# staged atomic swap), and return the compacted dataset's contents. The
# oracle reads the original table: a pass proves the rewrite is lossless
# byte-for-value while the layout (few size-targeted files, disjoint
# doc_id ranges) is asserted by unit tests.
def c16_compacted_scan(spark, sf_dir):
    utc(spark)
    from datafusion_table_providers_spark.write.output import compact_dataset

    app = spark.sparkContext.applicationId
    path = os.path.join(scratch_dir(), f"engine_compact_{_tag(sf_dir)}_{app}")
    if os.path.exists(path):
        import shutil

        shutil.rmtree(path)
    docs = _t(spark, sf_dir, "documents")
    docs.repartition(64).write.parquet(path)
    n_before, n_after = compact_dataset(
        spark, path, target_file_bytes=64 << 20, cluster_by=["doc_id"]
    )
    assert n_before == 64 and n_after < 64, (n_before, n_after)
    return _scan(spark, path)[0].select(
        "doc_id", "lang", "source", "n_chars"
    )


C16_SQL = "SELECT doc_id, lang, source, n_chars FROM documents"


SUITE["c16_compacted_scan"] = QueryCase(
    c16_compacted_scan,
    C16_SQL,
    "small-file compaction (staged atomic swap) is lossless",
)
