"""Connector + federation behavior tests: pushdown reaches the generated SQL,
partitioned scans, Engine.sql routing, memory-table guard rails."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_table_providers_spark.engine import Engine
from datafusion_table_providers_spark.sources.backends import DuckDBBackend
from datafusion_table_providers_spark.write import writer

SF = "/root/testdata/sf0.001"

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def _filled_backend(spark, tmp_path, n=100):
    b = DuckDBBackend(str(tmp_path / "c.duckdb"))
    df = spark.createDataFrame(
        [(i, f"g{i % 4}", float(i)) for i in range(n)], SCHEMA
    )
    writer.insert_into(b, "t", df)
    b.close()
    return b


def test_filter_fully_pushed(spark, tmp_path):
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    b = _filled_backend(spark, tmp_path)
    df = duckdb_reader_df(spark, b, "t").filter(
        (F.col("id") > 50) & (F.col("grp") == "g1")
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan  # both predicates became remote SQL
    assert df.count() == 12


def test_partitioned_scan_parallelism(spark, tmp_path):
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    b = _filled_backend(spark, tmp_path)
    df = duckdb_reader_df(spark, b, "t", partition_column="id", num_partitions=4)
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 100  # disjoint, complete ranges


def test_engine_federates_same_context(spark, tmp_path):
    b = _filled_backend(spark, tmp_path)
    eng = Engine(spark)
    eng.register_backend_table("ft1", b, "t")
    eng.register_backend_table("ft2", b, "t")
    assert eng.explain_federation(
        "SELECT a.id FROM ft1 a JOIN ft2 b ON a.id = b.id"
    ).startswith("federated")
    out = eng.sql(
        "SELECT grp, COUNT(*) AS n FROM ft1 GROUP BY grp ORDER BY grp"
    ).collect()
    assert [(r["grp"], r["n"]) for r in out] == [
        ("g0", 25), ("g1", 25), ("g2", 25), ("g3", 25)
    ]


def test_engine_falls_back_cross_source(spark, tmp_path):
    b = _filled_backend(spark, tmp_path)
    eng = Engine(spark)
    eng.register_backend_table("fed_t", b, "t")
    eng.register_parquet("nation_pq", f"{SF}/nation.parquet")
    route = eng.explain_federation(
        "SELECT * FROM fed_t JOIN nation_pq ON id = n_nationkey"
    )
    assert route.startswith("spark[")
    out = eng.sql(
        "SELECT COUNT(*) AS n FROM fed_t JOIN nation_pq ON id = n_nationkey"
    ).collect()
    assert out[0]["n"] == 25


def test_memory_backend_guard(spark):
    b = DuckDBBackend()  # :memory:, no parquet views
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    with pytest.raises(ValueError, match="in-memory"):
        duckdb_reader_df(spark, b, "t")


def test_parquet_view_backend_scan(spark):
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    b = DuckDBBackend(parquet_tables={"nation": f"{SF}/nation.parquet"})
    df = duckdb_reader_df(spark, b, "nation")
    assert df.count() == 25
    assert df.filter(F.col("n_regionkey") == 0).count() == 5


def test_sqlite_connector_pushdown(spark, tmp_path):
    from datafusion_table_providers_spark.sources.backends import SQLiteBackend
    from datafusion_table_providers_spark.sources.sqlite_source import (
        sqlite_reader_df,
    )

    b = SQLiteBackend(str(tmp_path / "s.db"))
    df = spark.createDataFrame(
        [(i, f"g{i % 2}", float(i)) for i in range(20)], SCHEMA
    )
    writer.insert_into(b, "t", df)
    got = sqlite_reader_df(spark, b, "t").filter(F.col("id") >= 15)
    assert got.count() == 5


def test_multimodal_decode_stub():
    from datafusion_table_providers_spark.llm.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_engine_federates_union_and_window(spark, tmp_path):
    """Whole-query path: set ops and window functions in the SQL text
    federate unchanged (the remote engine executes them)."""
    b = _filled_backend(spark, tmp_path)
    eng = Engine(spark)
    eng.register_backend_table("ut1", b, "t")
    eng.register_backend_table("ut2", b, "t")
    q = (
        "SELECT grp, MAX(rn) AS mx FROM ("
        "  SELECT grp, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY id) AS rn FROM ut1"
        "  UNION ALL"
        "  SELECT grp, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY id) AS rn FROM ut2"
        ") u GROUP BY grp ORDER BY grp"
    )
    assert eng.explain_federation(q).startswith("federated")
    out = eng.sql(q).collect()
    assert [(r["grp"], r["mx"]) for r in out] == [
        ("g0", 25), ("g1", 25), ("g2", 25), ("g3", 25)
    ]


def test_column_pruning_in_generated_sql(spark, tmp_path):
    """A3 projection pushdown: the generated SELECT names exactly the
    requested columns (reference mod.rs:258-276) — never ``*``."""
    import json

    from datafusion_table_providers_spark.sources.duckdb_source import (
        DuckDBReader,
        duckdb_reader_df,
    )

    b = _filled_backend(spark, tmp_path)
    reader = DuckDBReader(
        None,
        {
            "path": b.path,
            "relation": "t",
            "columns": json.dumps(["id", "v"]),
        },
    )
    sql = reader.scan_sql()
    assert sql == 'SELECT "id", "v" FROM t'
    assert "*" not in sql

    # end-to-end: schema and data carry only the pruned columns
    df = duckdb_reader_df(spark, b, "t", columns=["id", "v"])
    assert df.columns == ["id", "v"]
    assert df.count() == 100

    # pruning composes with filter pushdown: WHERE may reference a pruned
    # projection column; both land in the remote SQL
    df2 = duckdb_reader_df(spark, b, "t", columns=["id", "grp"]).filter(
        F.col("grp") == "g1"
    )
    plan = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" not in plan
    assert df2.count() == 25


def test_sqlite_column_pruning(spark, tmp_path):
    from datafusion_table_providers_spark.sources.backends import SQLiteBackend
    from datafusion_table_providers_spark.sources.sqlite_source import (
        sqlite_reader_df,
    )

    b = SQLiteBackend(str(tmp_path / "p.db"))
    df = spark.createDataFrame(
        [(i, f"g{i % 4}", float(i)) for i in range(20)], SCHEMA
    )
    writer.insert_into(b, "t", df)
    out = sqlite_reader_df(spark, b, "t", columns=["id", "v"])
    assert out.columns == ["id", "v"]
    assert out.count() == 20


def test_no_driver_readback_in_suite_queries():
    """c04-c08 must read back through the executor-side connector, not
    spark.createDataFrame(backend.query_arrow(...)) on the driver."""
    import inspect

    from datafusion_table_providers_spark.sources import suite as s

    for fn in (
        s.c04_duckdb_write_roundtrip,
        s.c05_duckdb_upsert,
        s.c06_duckdb_dml,
        s.c07_sqlite_roundtrip,
        s.c08_duckdb_overwrite,
    ):
        src = inspect.getsource(fn)
        assert "createDataFrame" not in src, fn.__name__


def test_table_detection_ignores_literals_and_comments(spark, tmp_path):
    """Identifier-level table detection: a registered name inside a string
    literal, comment, or as a dot-qualified member must not trigger (or
    suppress) federation routing."""
    b = _filled_backend(spark, tmp_path)
    eng = Engine(spark)
    eng.register_backend_table("ordtab", b, "t")

    # name only inside a string literal / comment -> NOT referenced -> spark path
    assert eng.explain_federation(
        "SELECT 'ordtab' AS label, * FROM t2 -- ordtab mention"
    ).startswith("spark")
    assert eng.explain_federation(
        "SELECT * FROM t2 /* join ordtab later */"
    ).startswith("spark")
    # real reference still federates, even with a literal mention alongside
    assert eng.explain_federation(
        "SELECT 'not ordtab' AS x, count(*) AS n FROM ordtab"
    ).startswith("federated")
    # dot-qualified member of another relation does not count
    assert eng.explain_federation(
        "SELECT other.ordtab FROM other"
    ).startswith("spark")
    # explicit tables= overrides detection entirely
    assert eng.explain_federation(
        "SELECT count(*) AS n FROM ordtab", tables=[]
    ).startswith("spark")
    # and the federated path still answers correctly with a literal decoy
    out = eng.sql("SELECT 'ordtab is here' AS tag, count(*) AS n FROM ordtab")
    row = out.collect()[0]
    assert row.n == 100 and row.tag == "ordtab is here"


def test_quoted_identifier_detection(spark, tmp_path):
    b = _filled_backend(spark, tmp_path)
    eng = Engine(spark)
    eng.register_backend_table("qtab", b, "t")
    assert eng.explain_federation('SELECT count(*) AS n FROM "qtab"').startswith(
        "federated"
    )


def test_large_fragment_spools_off_driver(spark, tmp_path):
    """A pushed fragment above threshold_rows must come back through a
    parquet spool (executor-side FileScan), not driver createDataFrame."""
    b = _filled_backend(spark, tmp_path, n=500)
    eng = Engine(spark)
    eng.register_backend_table("spooled", b, "t")
    df = eng.sql("SELECT id, v FROM spooled", threshold_rows=100)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in plan.lower(), plan
    assert df.count() == 500
    # small results stay on the one-hop in-memory path
    df2 = eng.sql("SELECT count(*) AS n FROM spooled", threshold_rows=100)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan2.lower(), plan2
    assert df2.collect()[0].n == 500


def test_sqlite_large_fragment_spools_off_driver(spark, tmp_path):
    """SQLite federation gets the same spool guard as DuckDB: above
    threshold_rows the fragment streams through chunked fetchmany →
    RecordBatch → parquet spool, never a full driver materialization."""
    from datafusion_table_providers_spark.sources.backends import SQLiteBackend

    b = SQLiteBackend(str(tmp_path / "spool.db"))
    df_in = spark.createDataFrame(
        [(i, f"g{i % 4}", float(i)) for i in range(500)], SCHEMA
    )
    writer.insert_into(b, "t", df_in)
    eng = Engine(spark)
    eng.register_backend_table("sq_spooled", b, "t")
    df = eng.sql("SELECT id, v FROM sq_spooled", threshold_rows=100)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in plan.lower(), plan
    assert df.count() == 500
    # small results stay on the one-hop in-memory path
    df2 = eng.sql("SELECT count(*) AS n FROM sq_spooled", threshold_rows=100)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan2.lower(), plan2
    assert df2.collect()[0].n == 500


def test_sqlite_query_arrow_batches_bounded_chunks(tmp_path):
    """The batch stream honors batch_size (driver holds one chunk at a
    time) and survives an all-NULL leading column value."""
    from datafusion_table_providers_spark.sources.backends import SQLiteBackend

    b = SQLiteBackend(str(tmp_path / "chunks.db"))
    b.execute("CREATE TABLE t (id INTEGER, s TEXT)")
    b.executemany(
        "INSERT INTO t VALUES (?, ?)",
        [(i, None if i == 0 else f"s{i}") for i in range(1000)],
    )
    batches = list(b.query_arrow_batches("SELECT id, s FROM t", batch_size=128))
    assert sum(bt.num_rows for bt in batches) == 1000
    assert max(bt.num_rows for bt in batches) <= 128
    assert len(batches) == 8
    # inferred schema is stable across chunks
    assert all(bt.schema == batches[0].schema for bt in batches)


def test_sort_limit_pushdown_in_generated_sql(spark, tmp_path):
    """A5/A6: caller-directed ORDER BY / LIMIT reach the generated SQL;
    Spark's own TopK above the scan stays the global truth (Inexact
    semantics, reference mod.rs:505-607)."""
    import json

    from datafusion_table_providers_spark.sources.duckdb_source import (
        DuckDBReader,
        duckdb_reader_df,
    )

    b = _filled_backend(spark, tmp_path)
    reader = DuckDBReader(
        None,
        {
            "path": b.path,
            "relation": "t",
            "columns": json.dumps(["id", "v"]),
            "order_by": json.dumps(["v DESC"]),
            "limit": "5",
        },
    )
    assert reader.scan_sql() == 'SELECT "id", "v" FROM t ORDER BY v DESC LIMIT 5'

    df = duckdb_reader_df(
        spark, b, "t", columns=["id", "v"], order_by=["v DESC"], limit=5
    ).orderBy(F.desc("v")).limit(5)
    got = [r.id for r in df.collect()]
    assert got == [99, 98, 97, 96, 95]


def test_auto_partition_from_row_stats(spark, tmp_path):
    """A15-adjacent: num_partitions=None sizes the split from the row-count
    statistic (~1M rows/slice)."""
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
        table_row_count,
    )

    b = _filled_backend(spark, tmp_path)  # 100 rows -> 1 partition
    assert table_row_count(b, "t") == 100
    df = duckdb_reader_df(spark, b, "t", partition_column="id", num_partitions=None)
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 100


def test_auto_broadcast_from_row_stats(spark, tmp_path):
    """A15: the row-count statistic also drives the join-side broadcast
    decision — Python-DS scans report no stats to Catalyst, so without the
    hint a connector dim always shuffle-joins."""
    from pyspark.sql import functions as F

    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    b = _filled_backend(spark, tmp_path)  # 100 rows — far under threshold
    dim = duckdb_reader_df(spark, b, "t", auto_broadcast=True)
    fact = spark.range(10_000).withColumn("id", (F.col("id") % 100) + 1)
    joined = fact.join(dim, "id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert joined.count() > 0


def test_sqlite_arrow_batches_all_null_first_chunk(tmp_path):
    """r3 ADVICE: a column all-NULL through the entire first chunk (e.g.
    NULLS-FIRST sort) must not freeze the schema at pa.null() and blow up
    on the next chunk; it types from the first value-bearing chunk."""
    import pyarrow as pa

    from datafusion_table_providers_spark.sources.backends import SQLiteBackend

    b = SQLiteBackend(str(tmp_path / "nulls.db"))
    b.execute("CREATE TABLE t (id INTEGER, s TEXT)")
    b.executemany(
        "INSERT INTO t VALUES (?, ?)",
        [(i, None if i < 300 else f"s{i}") for i in range(1000)],
    )
    batches = list(
        b.query_arrow_batches("SELECT id, s FROM t ORDER BY id", batch_size=128)
    )
    assert sum(bt.num_rows for bt in batches) == 1000
    assert all(bt.schema == batches[0].schema for bt in batches)
    assert batches[0].schema.field("s").type == pa.string()
    # a column NULL for the whole result stays null-typed (degrades to
    # full buffering, same footprint as query_arrow — not a crash)
    b.execute("CREATE TABLE allnull (id INTEGER, z TEXT)")
    b.executemany(
        "INSERT INTO allnull VALUES (?, NULL)", [(i,) for i in range(300)]
    )
    nb = list(b.query_arrow_batches("SELECT id, z FROM allnull", batch_size=128))
    assert sum(bt.num_rows for bt in nb) == 300
    assert nb[0].schema.field("z").type == pa.null()


def test_sqlite_arrow_batches_lock_released_between_yields(tmp_path):
    """r3 ADVICE: the backend lock is held per-fetch, so calling another
    locked method mid-iteration must not deadlock."""
    from datafusion_table_providers_spark.sources.backends import SQLiteBackend

    b = SQLiteBackend(str(tmp_path / "locky.db"))
    b.execute("CREATE TABLE t (id INTEGER)")
    b.executemany("INSERT INTO t VALUES (?)", [(i,) for i in range(500)])
    seen = 0
    for bt in b.query_arrow_batches("SELECT id FROM t", batch_size=100):
        seen += bt.num_rows
        assert "t" in b.table_names()  # locked call while iterating
    assert seen == 500
    # abandoning the generator must not wedge the backend
    gen = b.query_arrow_batches("SELECT id FROM t", batch_size=100)
    next(gen)
    gen.close()
    assert b.query_arrow("SELECT count(*) AS n FROM t").column("n")[0].as_py() == 500


def test_worker_connection_cache_memory_parquet_only(tmp_path):
    """The per-process connection cache applies ONLY to :memory:
    parquet-view configs; file-backed connections stay per-task (a cached
    read-only handle would pin a replaced inode and block RW opens)."""
    import json

    from datafusion_table_providers_spark.sources.duckdb_source import (
        _WORKER_CON_CACHE,
        _worker_connect,
    )

    pq = str(tmp_path / "t.parquet")
    import duckdb

    duckdb.connect().execute(
        f"COPY (SELECT range AS id FROM range(10)) TO '{pq}' (FORMAT parquet)"
    )
    opts = {"path": ":memory:", "parquet_tables": json.dumps({"t": pq})}
    con1, cached1 = _worker_connect(opts)
    con2, cached2 = _worker_connect(opts)
    assert cached1 and cached2 and con1 is con2
    assert con2.execute("SELECT count(*) FROM t").fetchone()[0] == 10
    # file-backed: never cached
    db = str(tmp_path / "f.duckdb")
    duckdb.connect(db).execute("CREATE TABLE x AS SELECT 1 AS a").close()
    fcon, fcached = _worker_connect({"path": db})
    assert not fcached
    fcon.close()
    # dead cached handle is rebuilt, not served
    con1.close()
    con3, _ = _worker_connect(opts)
    assert con3.execute("SELECT count(*) FROM t").fetchone()[0] == 10
    _WORKER_CON_CACHE.clear()


def test_table_function_relations_csv_json(spark, tmp_path):
    """A10/A11 widening: read_csv / read_json table-function relations scan
    through the connector with pushdown — the reference's table-function
    argument surface, not just read_parquet views."""
    import json as _json

    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    csv = tmp_path / "t.csv"
    csv.write_text("id,name\n1,a\n2,b\n3,c\n")
    jsonl = tmp_path / "t.jsonl"
    jsonl.write_text(
        "\n".join(_json.dumps({"id": i, "v": i * 1.5}) for i in range(5))
    )
    b = DuckDBBackend()  # :memory: — table functions are file-backed
    got = duckdb_reader_df(
        spark, b, f"read_csv('{csv}', header=true)"
    ).filter(F.col("id") >= 2)
    assert sorted(r["name"] for r in got.collect()) == ["b", "c"]
    gj = duckdb_reader_df(spark, b, f"read_json('{jsonl}')")
    assert gj.count() == 5
    assert abs(gj.agg(F.sum("v")).collect()[0][0] - 15.0) < 1e-9


def test_worker_connection_cache_evicts_oldest(tmp_path):
    """The per-process cache is bounded: oldest config evicted and closed."""
    import json

    import duckdb

    from datafusion_table_providers_spark.sources import duckdb_source as ds

    pq = str(tmp_path / "e.parquet")
    duckdb.connect().execute(
        f"COPY (SELECT 1 AS a) TO '{pq}' (FORMAT parquet)"
    )
    ds._WORKER_CON_CACHE.clear()
    cons = []
    for i in range(ds._WORKER_CON_CACHE_MAX + 2):
        opts = {
            "path": ":memory:",
            "settings": json.dumps({"threads": str(i + 1)}),
            "parquet_tables": json.dumps({"t": pq}),
        }
        con, cached = ds._worker_connect(opts)
        assert cached
        cons.append(con)
    assert len(ds._WORKER_CON_CACHE) == ds._WORKER_CON_CACHE_MAX
    # the first (evicted) connection was closed
    import pytest as _pt

    with _pt.raises(Exception):
        cons[0].execute("SELECT 1")
    ds._WORKER_CON_CACHE.clear()


def _keyed_duckdb_file(tmp_path):
    """100 rows; every key column is NULL in 10 of them."""
    import duckdb

    path = str(tmp_path / "keys.duckdb")
    con = duckdb.connect(path)
    con.execute(
        "CREATE TABLE t AS SELECT "
        "CASE WHEN i % 10 = 0 THEN NULL ELSE i END AS id, "
        "CASE WHEN i % 10 = 1 THEN NULL "
        "ELSE DATE '2020-01-01' + CAST(i AS INTEGER) END AS dt, "
        "CASE WHEN i % 10 = 2 THEN NULL "
        "ELSE TIMESTAMP '2020-01-01 00:00:00' + i * INTERVAL 7 HOUR END AS ts "
        "FROM range(100) r(i)"
    )
    con.close()
    return path


def _sliced_duckdb(spark, path, column):
    from datafusion_table_providers_spark.sources.duckdb_source import (
        duckdb_reader_df,
    )

    return duckdb_reader_df(
        spark, DuckDBBackend(path), "t", partition_column=column,
        num_partitions=4,
    )


def _sliced_dbapi(spark, path, column):
    from datafusion_table_providers_spark.sources.dbapi_source import (
        dbapi_reader_df,
    )

    return dbapi_reader_df(
        spark, "duckdb", "t", connect_args=[path],
        connect_kwargs={"read_only": True}, dialect="duckdb",
        partition_column=column, num_partitions=4,
    )


@pytest.mark.parametrize("column", ["id", "dt", "ts"])
@pytest.mark.parametrize("scan", [_sliced_duckdb, _sliced_dbapi])
def test_range_slices_keep_null_keys_and_temporal_edges(
    spark, tmp_path, scan, column
):
    """A range-sliced scan returns every row: the first slice also takes
    the NULL keys, and DATE/TIMESTAMP edges are rendered as literals of
    their type, not bare values."""
    df = scan(spark, _keyed_duckdb_file(tmp_path), column)
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 100
    assert df.filter(F.col(column).isNull()).count() == 10


def test_range_slices_sql():
    from datafusion_table_providers_spark.core.expr import DIALECTS
    from datafusion_table_providers_spark.sources.sql_scan import range_slices

    assert range_slices(
        lambda sql: (1, 100), DIALECTS["duckdb"], "t", "id", 4
    ) == [
        '"id" < 25.75 OR "id" IS NULL',
        '"id" >= 25.75 AND "id" < 50.5',
        '"id" >= 50.5 AND "id" < 75.25',
        '"id" >= 75.25',
    ]
    assert range_slices(lambda sql: (7, 7), DIALECTS["duckdb"], "t", "id", 4) == []
    # SQLite returns DATE and TEXT keys as strings: no slices, one scan
    assert range_slices(
        lambda sql: ("2020-01-01", "2020-12-31"), DIALECTS["sqlite"], "t", "d", 4
    ) == []


def test_sqlite_text_partition_column_reads_one_scan(spark, tmp_path):
    """A text partition key cannot be range-sliced; the DB-API scan falls
    back to one partition and keeps every row."""
    import sqlite3

    from datafusion_table_providers_spark.sources.dbapi_source import (
        dbapi_reader_df,
    )

    path = str(tmp_path / "d.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t (id INTEGER, d DATE)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)",
        [(i, f"2020-01-{i % 28 + 1:02d}") for i in range(50)],
    )
    con.commit()
    con.close()
    df = dbapi_reader_df(
        spark, "sqlite3", "t", connect_args=[path], dialect="sqlite",
        schema_ddl="id BIGINT, d STRING", partition_column="d", num_partitions=4,
    )
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 50


def _sqlite_bools(spark, path, relation):
    from datafusion_table_providers_spark.sources.backends import SQLiteBackend
    from datafusion_table_providers_spark.sources.sqlite_source import (
        sqlite_reader_df,
    )

    return sqlite_reader_df(spark, SQLiteBackend(path), relation)


def _dbapi_bools(spark, path, relation):
    from datafusion_table_providers_spark.sources.dbapi_source import (
        dbapi_reader_df,
    )

    return dbapi_reader_df(
        spark, "sqlite3", relation, connect_args=[path], dialect="sqlite",
        schema_ddl="id BIGINT, ok BOOLEAN",
    )


@pytest.mark.parametrize("scan", [_sqlite_bools, _dbapi_bools])
def test_sqlite_boolean_column(spark, tmp_path, scan):
    """SQLite stores BOOLEAN as 0/1 integers; the rows→Arrow converter
    casts them instead of rejecting them."""
    import sqlite3

    path = str(tmp_path / "b.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE b (id INTEGER, ok BOOLEAN)")
    con.executemany("INSERT INTO b VALUES (?, ?)", [(1, 1), (2, 0), (3, None)])
    con.commit()
    con.close()
    rows = scan(spark, path, "b").orderBy("id").collect()
    assert [r.ok for r in rows] == [True, False, None]


def test_unknown_declared_column_raises_on_driver(spark, tmp_path):
    import sqlite3

    from datafusion_table_providers_spark.sources.backends import SQLiteBackend
    from datafusion_table_providers_spark.sources.dbapi_source import (
        dbapi_reader_df,
    )
    from datafusion_table_providers_spark.sources.sqlite_source import (
        sqlite_reader_df,
    )

    path = str(tmp_path / "u.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE u (id INTEGER)")
    con.close()
    with pytest.raises(ValueError, match="unknown columns"):
        sqlite_reader_df(spark, SQLiteBackend(path), "u", columns=["nope"])
    with pytest.raises(ValueError, match="unknown columns"):
        dbapi_reader_df(
            spark, "sqlite3", "u", connect_args=[path],
            schema_ddl="id BIGINT", columns=["nope"],
        )
