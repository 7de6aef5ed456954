"""Write-path behavior tests: constraints, upsert, overwrite atomicity,
DELETE/UPDATE counts, sort/limit pushdown fixture (FIXTURES.md)."""

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datafusion_table_providers_spark.write import writer
from datafusion_table_providers_spark.write.constraints import (
    ConstraintViolation,
    validate_unique,
)
from datafusion_table_providers_spark.write.on_conflict import OnConflict

from tests.test_build_jobs import _with_jobs

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


def test_constraint_window_check_direct(spark):
    ok = spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA)
    validate_unique(ok, ["id"])  # no raise


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


def test_pk_validation_is_one_pass(spark, tmp_duckdb):
    # a nullable key: on a NOT NULL column Catalyst drops a NULL check
    df = spark.range(2000, numPartitions=4).selectExpr(
        "nullif(id, -1) AS id", "string(id) AS v")
    _, plain = _with_jobs(spark, lambda: writer.insert_into(
        tmp_duckdb, "a", df, via="arrow"))
    _, pk = _with_jobs(spark, lambda: writer.insert_into(
        tmp_duckdb, "b", df, primary_keys=["id"], via="arrow"))
    # one group-count pass: its shuffle-map job and its result job; a
    # separate NOT NULL pass added two more (its LIMIT 1 scan tries one
    # partition, then the rest)
    assert pk - plain <= 2, (pk, plain)


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


def test_write_training_shards_bounds_and_layout(spark, tmp_path):
    """Output shards respect maxRecordsPerFile and the hive partition
    layout; no shard exceeds the row bound and all rows round-trip."""
    import glob
    import os

    import pyarrow.parquet as pq

    from datafusion_table_providers_spark.write.output import (
        write_training_shards,
    )

    df = spark.range(10_000).selectExpr(
        "id AS doc_id", "CAST(id % 3 AS STRING) AS source", "id * 2 AS v"
    )
    out = str(tmp_path / "shards")
    write_training_shards(
        df, out, shard_rows=500, partition_by=["source"], target_shards=4
    )
    parts = sorted(os.listdir(out))
    assert [p for p in parts if p.startswith("source=")] == [
        "source=0", "source=1", "source=2"
    ]
    files = glob.glob(f"{out}/source=*/*.parquet")
    assert files
    assert max(pq.read_metadata(f).num_rows for f in files) <= 500
    back = spark.read.parquet(out)
    assert back.count() == 10_000
    assert back.groupBy("source").count().count() == 3
