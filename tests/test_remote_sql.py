"""Remote-SQL backend SQL-generation tests (server-free, crates/postgres +
crates/mysql shape): JDBC scan options, federation context, DDL/DML gen,
credential provider indirection. DML statements render through
write/statement.py, the one generator every writer path uses."""

import pytest
from pyspark.sql import types as T

from datafusion_table_providers_spark.sources.remote_sql import RemoteSqlBackend
from datafusion_table_providers_spark.write.on_conflict import OnConflict
from datafusion_table_providers_spark.write.statement import (
    render_delete,
    render_insert,
    render_update,
)


def _pg():
    return RemoteSqlBackend(
        "postgres", "db.example", 5432, "app", "svc",
        password_provider=lambda: "s3cret",
    )


def _my():
    return RemoteSqlBackend("mysql", "db.example", 3306, "app", "svc")


def test_compute_context_is_per_server_db_user():
    assert _pg().compute_context() == "postgres:db.example:5432/app?user=svc"
    a, b = _pg(), _pg()
    assert a.compute_context() == b.compute_context()  # same pool → federate


def test_jdbc_options_pushdown_and_partitioning():
    opts = _pg().jdbc_options(
        "orders", partition_column="o_orderkey", num_partitions=8,
        bounds=(1, 100000),
    )
    assert opts["url"] == "jdbc:postgresql://db.example:5432/app"
    assert opts["pushDownPredicate"] == "true"
    assert opts["numPartitions"] == "8"
    assert opts["lowerBound"] == "1" and opts["upperBound"] == "100000"
    assert opts["password"] == "s3cret"  # provider called lazily


def test_partitioning_requires_bounds():
    with pytest.raises(ValueError):
        _pg().jdbc_options("t", partition_column="id", num_partitions=4)


def test_create_table_dialects():
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType()),
        ]
    )
    pg = _pg().create_table_sql("t", schema, primary_keys=("id",))
    assert pg == (
        'CREATE TABLE "t" ("id" BIGINT NOT NULL, "name" TEXT, '
        'PRIMARY KEY ("id"))'
    )
    my = _my().create_table_sql("t", schema)
    assert my == "CREATE TABLE `t` (`id` BIGINT NOT NULL, `name` TEXT)"


def test_insert_upsert_per_dialect():
    pg = render_insert(
        "postgres", "t", ["id", "v"], on_conflict=OnConflict.upsert(["id"])
    )
    assert pg == (
        'INSERT INTO "t" ("id", "v") VALUES (%s, %s) '
        'ON CONFLICT ("id") DO UPDATE SET "v" = EXCLUDED."v"'
    )
    my = render_insert(
        "mysql", "t", ["id", "v"], on_conflict=OnConflict.upsert(["id"])
    )
    assert my == (
        "INSERT INTO `t` (`id`, `v`) VALUES (%s, %s) "
        "ON DUPLICATE KEY UPDATE `v` = VALUES(`v`)"
    )


def test_delete_update_sql():
    assert render_delete("postgres", "t", "id < 10") == (
        'DELETE FROM "t" WHERE id < 10'
    )
    assert (
        render_update("mysql", "t", {"v": "upper(v)"}, "id = 1")
        == "UPDATE `t` SET `v` = upper(v) WHERE id = 1"
    )
