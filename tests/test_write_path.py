"""Write-path behavior tests: constraints, upsert, overwrite atomicity,
DELETE/UPDATE counts, sort/limit pushdown fixture (FIXTURES.md)."""

import os
import re
import sqlite3

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_table_providers_spark.sources.backends import (
    DuckDBBackend,
    SQLiteBackend,
)
from datafusion_table_providers_spark.write import writer
from datafusion_table_providers_spark.write.constraints import (
    ConstraintViolation,
    validate_unique,
)
from datafusion_table_providers_spark.write.on_conflict import OnConflict

from verify_local import job_group

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.StringType()),
    ]
)


def test_constraint_rejects_duplicates(spark, tmp_duckdb):
    df = spark.createDataFrame([(1, "a"), (1, "b")], SCHEMA)
    with pytest.raises(ConstraintViolation):
        writer.insert_into(tmp_duckdb, "t", df, primary_keys=["id"])


def test_constraint_window_check_direct(tmp_duckdb):
    # the check reads a staging relation in the sink: no raise, and it
    # returns the relation's row count
    tmp_duckdb.execute(
        "CREATE TABLE s AS SELECT * FROM (VALUES (1, 'a'), (2, 'b')) v(id, v)"
    )
    with tmp_duckdb.transaction() as con:
        assert validate_unique(lambda sql: con.execute(sql).fetchone(), '"s"',
                               ["id"]) == 2


@pytest.mark.parametrize(
    "rows, keys, message",
    [
        ([(1, 1, "a"), (None, 2, "b")], ["id"], "NULL in constrained"),
        ([(1, 1, "a"), (1, 2, "b")], ["id"], "duplicate key {'id': 1}"),
        # both faults: the NULL is reported, as before the checks were folded
        ([(1, 1, "a"), (1, 2, "b"), (None, 3, "c")], ["id"], "NULL in constrained"),
        ([(1, 1, "a"), (1, None, "b")], ["id", "k"], "NULL in constrained"),
        ([(1, 2, "a"), (1, 2, "b"), (1, 3, "c")], ["id", "k"], "duplicate key"),
    ],
)
def test_constraint_rejects_null_and_duplicate_keys(spark, tmp_duckdb, rows,
                                                    keys, message):
    df = spark.createDataFrame(rows, "id long, k long, v string")
    with pytest.raises(ConstraintViolation, match=re.escape(message)):
        writer.insert_into(tmp_duckdb, "t", df, primary_keys=keys)


#: every write transport: DuckDB's two through ``insert_into``, SQLite's
#: two through ``insert_into`` and ``distributed_insert`` called directly
TRANSPORTS = ["arrow", "spool", "loop", "staged", "distributed_insert"]


class _Sink:
    """One transport's sink in ``tmp_path``: ``write(df, table, **kw)`` and
    the relations it holds (tables, views, TEMP tables, spool entries)."""

    def __init__(self, transport, tmp_path):
        self.transport = transport
        self.spool = tmp_path / "spool"
        self.spool.mkdir(parents=True)
        if transport in ("arrow", "spool"):
            self.backend = DuckDBBackend(str(tmp_path / "c.duckdb"))
        else:
            self.path = str(tmp_path / "c.db")
            self.backend = SQLiteBackend(self.path)

    def write(self, df, table, **kw):
        if self.transport == "distributed_insert":
            return writer.distributed_insert(
                df, table, "sqlite3", connect_args=[self.path],
                dialect_name="sqlite", create=True, **kw,
            )
        return writer.insert_into(self.backend, table, df, via=self.transport,
                                  spool_dir=str(self.spool), **kw)

    def relations(self):
        if isinstance(self.backend, DuckDBBackend):
            sql = "SELECT table_name AS n FROM information_schema.tables"
        else:
            sql = ("SELECT name AS n FROM sqlite_master UNION ALL "
                   "SELECT name FROM sqlite_temp_master")
        got = self.backend.query_arrow(sql).column(0).to_pylist()
        return sorted(got) + sorted(os.listdir(self.spool))

    def count(self, table):
        return self.backend.query_arrow(
            f'SELECT COUNT(*) AS n FROM "{table}"').column(0)[0].as_py()


def test_pk_validation_is_one_pass(spark, tmp_path):
    # a nullable key: on a NOT NULL column Catalyst drops a NULL check
    df = spark.range(2000, numPartitions=4).selectExpr(
        "nullif(id, -1) AS id", "string(id) AS v")
    for transport in TRANSPORTS:
        sink = _Sink(transport, tmp_path / transport)
        with job_group(spark) as plain:
            sink.write(df, "a")
        with job_group(spark) as pk:
            sink.write(df, "b", primary_keys=["id"])
        # the key check is one query on the sink's staging relation
        assert len(pk.jobs) == len(plain.jobs), (transport, pk.jobs,
                                                 plain.jobs)
        assert sink.count("b") == 2000


@pytest.mark.parametrize("transport", TRANSPORTS)
@pytest.mark.parametrize(
    "rows, keys, message",
    [
        ([(1, 1, "a"), (None, 2, "b")], ["id"],
         "NULL in constrained columns ['id']"),
        ([(1, 1, "a"), (1, 2, "b"), (2, 3, "c")], ["id"],
         "incoming batch violates unique constraint on ['id']: "
         "duplicate key {'id': 1}"),
        ([(1, 1, "a"), (1, 2, "b"), (None, 3, "c")], ["id"],
         "NULL in constrained columns ['id']"),
        ([(1, 1, "a"), (1, None, "b")], ["id", "k"],
         "NULL in constrained columns ['id', 'k']"),
        ([(1, 2, "a"), (1, 2, "b"), (1, 3, "c")], ["id", "k"],
         "incoming batch violates unique constraint on ['id', 'k']: "
         "duplicate key {'id': 1, 'k': 2}"),
    ],
    ids=["null", "duplicate", "both", "composite-null", "composite-duplicate"],
)
def test_constraint_matrix_lands_nothing(spark, tmp_path, transport, rows,
                                         keys, message):
    """Each transport rejects the batch with the same message, before the
    target table exists, and leaves no staging table or spool behind."""
    sink = _Sink(transport, tmp_path)
    before = sink.relations()
    df = spark.createDataFrame(rows, "id long, k long, v string")
    with pytest.raises(ConstraintViolation, match=f"^{re.escape(message)}$"):
        sink.write(df, "t", primary_keys=keys)
    assert sink.relations() == before


@pytest.mark.parametrize("transport", TRANSPORTS)
def test_rejected_batch_leaves_existing_rows(spark, tmp_path, transport):
    sink = _Sink(transport, tmp_path)
    good = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    sink.write(good, "t", primary_keys=["id"])
    before = sink.relations()
    bad = spark.createDataFrame([(3, "c"), (3, "d")], "id long, v string")
    with pytest.raises(ConstraintViolation, match="duplicate key {'id': 3}"):
        sink.write(bad, "t", primary_keys=["id"])
    assert sink.count("t") == 2 and sink.relations() == before


@pytest.mark.parametrize("transport", TRANSPORTS)
@pytest.mark.parametrize("mode", ["append", "overwrite"])
def test_failed_ingest_lands_nothing(spark, tmp_path, transport, mode):
    """An ingest the sink rejects after the key check rolls back the whole
    commit: an append into a new table creates no table, and an overwrite
    of an existing one keeps its rows. Every relation is as it was."""
    sink = _Sink(transport, tmp_path)
    if mode == "overwrite":
        sink.write(spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA), "t",
                   primary_keys=["id"])
    before = sink.relations()
    rows = (sink.backend.query_arrow('SELECT * FROM "t" ORDER BY id').to_pylist()
            if mode == "overwrite" else None)
    df = spark.createDataFrame([(2, "B"), (3, "c")], SCHEMA)
    # ``v`` has no unique index, so the sink rejects the conflict target
    with pytest.raises(Exception, match="(?i)conflict"):
        sink.write(df, "t", mode=mode, primary_keys=["id"],
                   on_conflict=OnConflict.do_nothing(["v"]))
    assert sink.relations() == before
    if mode == "overwrite":
        assert sink.backend.query_arrow(
            'SELECT * FROM "t" ORDER BY id').to_pylist() == rows


@pytest.mark.parametrize("transport", TRANSPORTS)
def test_overwrite_keeps_constraints(spark, tmp_path, transport):
    """An overwrite whose rows share keys with the old ones keeps the
    target's primary key and NOT NULL column."""
    schema = T.StructType([T.StructField("id", T.LongType(), False),
                           T.StructField("v", T.StringType(), False)])
    sink = _Sink(transport, tmp_path)
    sink.write(spark.createDataFrame([(1, "a"), (2, "b")], schema), "t",
               primary_keys=["id"])
    sink.write(spark.createDataFrame([(2, "B"), (3, "c")], schema), "t",
               mode="overwrite", primary_keys=["id"])
    got = sink.backend.query_arrow('SELECT id, v FROM "t" ORDER BY id')
    assert [tuple(r.values()) for r in got.to_pylist()] == [(2, "B"), (3, "c")]
    for bad in ("(3, 'x')", "(4, NULL)"):
        with pytest.raises(Exception, match="(?i)constraint"):
            sink.backend.execute(f'INSERT INTO "t" VALUES {bad}')
    assert sink.count("t") == 2


def test_sqlite_loop_insert_is_atomic(spark, tmp_path):
    """A row the sink rejects part-way through a loop insert rolls back
    every row before it, including whole batches already sent."""
    b = SQLiteBackend(str(tmp_path / "atomic.db"))
    b.execute('CREATE TABLE "t" ("id" INTEGER, "v" TEXT NOT NULL)')
    df = spark.range(15_000, numPartitions=2).selectExpr(
        "id", "IF(id = 12000, NULL, string(id)) AS v")
    with pytest.raises(sqlite3.IntegrityError):
        writer.insert_into(b, "t", df, create=False, via="loop")
    b.execute('CREATE TABLE "other" ("x" INTEGER)')  # commits nothing pending
    assert b.query_arrow('SELECT COUNT(*) AS n FROM "t"')[0][0].as_py() == 0


@pytest.mark.parametrize("transport", ["loop", "staged"])
def test_sqlite_transports_upsert(spark, tmp_path, transport):
    """ON CONFLICT through a SQLite staging table (the loop's TEMP table
    with keys, the staged path's partition table)."""
    b = SQLiteBackend(str(tmp_path / "up.db"))
    base = spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA)
    writer.insert_into(b, "t", base, primary_keys=["id"], via=transport)
    wave = spark.createDataFrame([(2, "B"), (3, "c")], SCHEMA)
    writer.insert_into(b, "t", wave, primary_keys=["id"], via=transport,
                       on_conflict=OnConflict.upsert(["id"]))
    got = b.query_arrow('SELECT id, v FROM "t" ORDER BY id').to_pylist()
    assert [tuple(r.values()) for r in got] == [(1, "a"), (2, "B"), (3, "c")]


def test_upsert_do_nothing_and_update(spark, tmp_duckdb):
    base = spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA)
    writer.insert_into(tmp_duckdb, "t", base, primary_keys=["id"])
    wave = spark.createDataFrame([(2, "B"), (3, "c")], SCHEMA)
    writer.insert_into(
        tmp_duckdb, "t", wave,
        on_conflict=OnConflict.do_nothing(["id"]), create=False,
    )
    got = {
        r["id"]: r["v"]
        for r in tmp_duckdb.query_arrow('SELECT * FROM "t"').to_pylist()
    }
    assert got == {1: "a", 2: "b", 3: "c"}  # 2 untouched
    wave2 = spark.createDataFrame([(3, "C"), (4, "d")], SCHEMA)
    writer.insert_into(
        tmp_duckdb, "t", wave2,
        on_conflict=OnConflict.upsert(["id"]), create=False,
    )
    got = {
        r["id"]: r["v"]
        for r in tmp_duckdb.query_arrow('SELECT * FROM "t"').to_pylist()
    }
    assert got == {1: "a", 2: "b", 3: "C", 4: "d"}  # 3 updated


def test_overwrite_replaces_everything(spark, tmp_duckdb):
    writer.insert_into(
        tmp_duckdb, "t", spark.createDataFrame([(1, "old")], SCHEMA)
    )
    writer.insert_into(
        tmp_duckdb,
        "t",
        spark.createDataFrame([(9, "new")], SCHEMA),
        mode="overwrite",
        create=False,
    )
    got = tmp_duckdb.query_arrow('SELECT * FROM "t"').to_pylist()
    assert got == [{"id": 9, "v": "new"}]


def test_delete_update_counts(spark, tmp_duckdb):
    df = spark.createDataFrame([(i, f"v{i}") for i in range(10)], SCHEMA)
    # a plain table and one with a primary key (DuckDB rejects
    # UPDATE … RETURNING on the latter)
    for table, pks in (("t", ()), ("t_pk", ["id"])):
        writer.insert_into(tmp_duckdb, table, df, primary_keys=pks)
        assert writer.delete_from(tmp_duckdb, table, '"id" >= 7') == 3
        assert writer.update(tmp_duckdb, table, {"v": "upper(v)"}, '"id" < 2') == 2
        assert writer.update(tmp_duckdb, table, {"v": "v"}, '"id" > 100') == 0
        got = {
            r["id"]: r["v"]
            for r in tmp_duckdb.query_arrow(f'SELECT * FROM "{table}"').to_pylist()
        }
        assert got[0] == "V0" and got[1] == "V1" and 7 not in got and len(got) == 7


def test_on_conflict_sql_shapes():
    cols = ["id", "a", "b"]
    assert OnConflict.do_nothing_all().to_sql(cols, "duckdb") == "ON CONFLICT DO NOTHING"
    assert (
        OnConflict.upsert(["id"]).to_sql(cols, "duckdb")
        == 'ON CONFLICT ("id") DO UPDATE SET "a" = EXCLUDED."a", "b" = EXCLUDED."b"'
    )
    assert (
        OnConflict.upsert(["id"]).to_sql(cols, "mysql")
        == "ON DUPLICATE KEY UPDATE `a` = VALUES(`a`), `b` = VALUES(`b`)"
    )


def test_indexes_created(spark, tmp_duckdb):
    df = spark.createDataFrame([(1, "a")], SCHEMA)
    writer.create_table(
        tmp_duckdb, "t", df.schema, primary_keys=["id"], indexes={"v": False}
    )
    names = tmp_duckdb.query_arrow(
        "SELECT index_name FROM duckdb_indexes()"
    ).to_pylist()
    assert any("idx_t_v" == r["index_name"] for r in names)


def test_sort_limit_fixture(spark, tmp_duckdb):
    """Exact expected outputs from the reference's pushdown test
    (core/tests/postgres/mod.rs:204-289)."""
    rows = [(i, f"row-{i:02d}") for i in range(1, 21)]
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("label", T.StringType(), False),
        ]
    )
    writer.insert_into(tmp_duckdb, "sort_limit_test", spark.createDataFrame(rows, schema))
    top5 = tmp_duckdb.query_arrow(
        'SELECT id FROM "sort_limit_test" ORDER BY id DESC LIMIT 5'
    ).to_pylist()
    assert [r["id"] for r in top5] == [20, 19, 18, 17, 16]
    mid = tmp_duckdb.query_arrow(
        'SELECT id FROM "sort_limit_test" WHERE id > 10 ORDER BY id ASC LIMIT 3'
    ).to_pylist()
    assert [r["id"] for r in mid] == [11, 12, 13]
    bare = tmp_duckdb.query_arrow(
        'SELECT id FROM "sort_limit_test" LIMIT 7'
    ).to_pylist()
    assert len(bare) == 7


def test_spool_insert_matches_arrow_path(spark, tmp_duckdb):
    """Executor-parallel spool ingest (the 100 TB path) produces the same
    table state as the driver-side Arrow path, including ON CONFLICT and
    overwrite semantics."""
    base = spark.createDataFrame([(i, f"v{i}") for i in range(100)], SCHEMA)
    n = writer.insert_into(
        tmp_duckdb, "t", base.repartition(16), primary_keys=["id"], via="spool"
    )
    assert n == 100
    assert (
        tmp_duckdb.query_arrow('SELECT COUNT(*) AS n FROM "t"')[0][0].as_py()
        == 100
    )

    # upsert through the spool path
    wave = spark.createDataFrame([(99, "NEW"), (100, "x")], SCHEMA)
    writer.insert_into(
        tmp_duckdb, "t", wave, on_conflict=OnConflict.upsert(["id"]),
        create=False, via="spool",
    )
    got = {
        r["id"]: r["v"]
        for r in tmp_duckdb.query_arrow(
            'SELECT * FROM "t" WHERE id >= 99'
        ).to_pylist()
    }
    assert got == {99: "NEW", 100: "x"}

    # overwrite through the spool path is atomic-swap, not delete+insert
    repl = spark.createDataFrame([(1, "only")], SCHEMA)
    writer.insert_into(tmp_duckdb, "t", repl, mode="overwrite",
                       create=False, via="spool")
    assert tmp_duckdb.query_arrow('SELECT * FROM "t"').to_pylist() == [
        {"id": 1, "v": "only"}
    ]


def test_auto_via_selects_spool_for_wide_inputs(spark, tmp_duckdb):
    wide = spark.createDataFrame([(i, "w") for i in range(50)], SCHEMA).repartition(16)
    writer.insert_into(tmp_duckdb, "t2", wide)  # via="auto" → spool
    narrow = spark.createDataFrame([(1000, "n")], SCHEMA)  # 1 partition → arrow
    writer.insert_into(tmp_duckdb, "t2", narrow, create=False)
    assert (
        tmp_duckdb.query_arrow('SELECT COUNT(*) AS n FROM "t2"')[0][0].as_py()
        == 51
    )


def test_distributed_insert_foreachpartition(spark, tmp_path):
    """Distributed sink: executor-side foreachPartition writers into a
    partition-tagged staging table, driver-side single-transaction commit
    (write.rs:558-710 staging discipline, fan-in off the driver)."""
    import sqlite3

    from datafusion_table_providers_spark.write.writer import distributed_insert

    path = str(tmp_path / "dist.db")
    df = spark.range(0, 1000, 1, 8).selectExpr(
        "id", "CAST(id * 2 AS DOUBLE) AS v", "CONCAT('r', id) AS name"
    )
    n = distributed_insert(
        df,
        "sink",
        "sqlite3",
        connect_args=[path],
        connect_kwargs={"timeout": 60},
        dialect_name="sqlite",
        create=True,
        primary_keys=["id"],
    )
    con = sqlite3.connect(path)
    assert con.execute("SELECT COUNT(*) FROM sink").fetchone()[0] == 1000
    assert con.execute(
        "SELECT v, name FROM sink WHERE id = 7"
    ).fetchone() == (14.0, "r7")
    # staging cleaned up
    leftovers = con.execute(
        "SELECT name FROM sqlite_master WHERE name LIKE 'sink__stg%'"
    ).fetchall()
    assert leftovers == []
    assert n in (1000, -1)
    con.close()


def test_distributed_insert_validates_constraints(spark, tmp_path):
    import pytest as _pytest

    from datafusion_table_providers_spark.write.constraints import (
        ConstraintViolation,
    )
    from datafusion_table_providers_spark.write.writer import distributed_insert

    path = str(tmp_path / "distc.db")
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id long, name string")
    with _pytest.raises(ConstraintViolation):
        distributed_insert(
            dup,
            "sink",
            "sqlite3",
            connect_args=[path],
            dialect_name="sqlite",
            create=True,
            primary_keys=["id"],
        )


def test_sqlite_auto_routes_staged_for_large_inputs(spark, tmp_path, monkeypatch):
    """>8-partition inputs bypass the driver row loop: executors append via
    distributed_insert's staging table; the loop stays for small frames."""
    from datafusion_table_providers_spark.sources.backends import SQLiteBackend

    b = SQLiteBackend(str(tmp_path / "routed.db"))
    called = {"loop": 0}
    orig = writer._insert_sqlite

    def spy(*a, **k):
        called["loop"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(writer, "_insert_sqlite", spy)

    big = spark.range(0, 5000, 1, 16).select(
        F.col("id"), F.col("id").cast("string").alias("v")
    )
    writer.insert_into(b, "big", big)
    assert called["loop"] == 0  # staged path taken
    assert (
        b.query_arrow('SELECT COUNT(*) AS n FROM "big"')[0][0].as_py() == 5000
    )

    small = spark.range(0, 10, 1, 2).select(
        F.col("id"), F.col("id").cast("string").alias("v")
    )
    writer.insert_into(b, "small", small)
    assert called["loop"] == 1  # row loop only for small frames
    assert (
        b.query_arrow('SELECT COUNT(*) AS n FROM "small"')[0][0].as_py() == 10
    )


def test_sqlite_loop_binds_rows_by_position(spark, tmp_path):
    """The row loop binds each Row positionally in the frame's column order,
    which is not alphabetical here: into a table it creates, and into an
    existing table that declares the same columns in another order."""
    from datafusion_table_providers_spark.sources.backends import SQLiteBackend

    b = SQLiteBackend(str(tmp_path / "order.db"))
    rows = [(3, "c", 1.5, None), (1, "a", -2.0, "x"), (2, None, None, "y")]
    df = spark.createDataFrame(
        rows, "z_id long, name string, amount double, b_tag string"
    ).coalesce(1)
    assert writer.insert_into(b, "created", df, via="loop") == 3
    b.execute(
        'CREATE TABLE "declared" (b_tag TEXT, amount REAL, z_id INTEGER, '
        "name TEXT)"
    )
    assert writer.insert_into(b, "declared", df, create=False, via="loop") == 3
    for table in ("created", "declared"):
        got = b.query_arrow(
            f'SELECT z_id, name, amount, b_tag FROM "{table}" ORDER BY z_id'
        ).to_pylist()
        assert [tuple(r.values()) for r in got] == sorted(rows)


def test_sqlite_staged_overwrite_and_memory_fallback(spark, tmp_path):
    from datafusion_table_providers_spark.sources.backends import SQLiteBackend

    b = SQLiteBackend(str(tmp_path / "ow.db"))
    first = spark.range(0, 100, 1, 16).select(
        F.col("id"), F.col("id").cast("string").alias("v")
    )
    writer.insert_into(b, "t", first)
    second = spark.range(100, 150, 1, 16).select(
        F.col("id"), F.col("id").cast("string").alias("v")
    )
    writer.insert_into(b, "t", second, mode="overwrite", create=False)
    assert b.query_arrow('SELECT COUNT(*) AS n FROM "t"')[0][0].as_py() == 50

    # :memory: databases can never take the staged path (executors cannot
    # open the driver's in-memory handle)
    m = SQLiteBackend(":memory:")
    wide = spark.range(0, 200, 1, 16).select(
        F.col("id"), F.col("id").cast("string").alias("v")
    )
    writer.insert_into(m, "t", wide)
    assert m.query_arrow('SELECT COUNT(*) AS n FROM "t"')[0][0].as_py() == 200
