"""Runtime semi-join reduction (sources/dynamic_filter.py).

Covers the strategy ladder (IN-list / range / empty), literal rendering
through the dialect layer, the extra_where plumbing in both connector
readers' generated SQL, and the end-to-end contract: the reduced scan
fetches strictly fewer rows while the join result is unchanged.
"""

import json

from pyspark.sql import functions as F

from datafusion_table_providers_spark.core.expr import DIALECTS
from datafusion_table_providers_spark.sources.dynamic_filter import (
    duckdb_semijoin_scan,
    runtime_filter_clause,
)

from tests.conftest import SF_DIR


def _dim(spark, vals, name="k"):
    return spark.createDataFrame([(v,) for v in vals], f"{name} int")


def test_in_list_strategy(spark):
    clause, strategy = runtime_filter_clause(
        _dim(spark, [3, 1, 2, None]), "k", DIALECTS["duckdb"]
    )
    assert strategy == "in_list"
    # NULL excluded, values sorted for deterministic SQL
    assert clause == '"k" IN (1, 2, 3)'


def test_in_list_renames_fact_column(spark):
    clause, _ = runtime_filter_clause(
        _dim(spark, [7]), "k", DIALECTS["duckdb"], fact_column="o_custkey"
    )
    assert clause == '"o_custkey" IN (7)'


def test_string_keys_render_as_quoted_literals(spark):
    dim = spark.createDataFrame([("a'b",), ("c",)], "k string")
    clause, strategy = runtime_filter_clause(dim, "k", DIALECTS["duckdb"])
    assert strategy == "in_list"
    assert clause == "\"k\" IN ('a''b', 'c')"


def test_range_fallback_over_cap(spark):
    clause, strategy = runtime_filter_clause(
        _dim(spark, list(range(100))), "k", DIALECTS["duckdb"], in_list_max=10
    )
    assert strategy == "range"
    assert clause == '"k" >= 0 AND "k" <= 99'


def test_empty_dim_short_circuits(spark):
    clause, strategy = runtime_filter_clause(
        _dim(spark, []), "k", DIALECTS["duckdb"]
    )
    assert (clause, strategy) == ("FALSE", "empty")


def test_all_null_keys_is_empty_not_none(spark):
    # NULL keys never join; after the isNotNull prefilter the dim is empty
    clause, strategy = runtime_filter_clause(
        _dim(spark, [None, None]), "k", DIALECTS["duckdb"]
    )
    assert (clause, strategy) == ("FALSE", "empty")


def test_extra_where_lands_in_duckdb_scan_sql():
    from datafusion_table_providers_spark.sources.duckdb_source import (
        DuckDBReader,
    )

    r = DuckDBReader(
        None,
        {
            "relation": "orders",
            "extra_where": json.dumps(['"o_custkey" IN (1, 2)']),
            "columns": json.dumps(["o_custkey"]),
        },
    )
    sql = r.scan_sql()
    assert '"o_custkey" IN (1, 2)' in sql
    assert "WHERE" in sql


def test_extra_where_lands_in_dbapi_scan_sql():
    from datafusion_table_providers_spark.sources.dbapi_source import (
        DBAPIReader,
    )

    r = DBAPIReader(
        None,
        {
            "relation": "orders",
            "dialect": "sqlite",
            "extra_where": json.dumps(['"o_custkey" >= 5 AND "o_custkey" <= 9']),
        },
    )
    assert '"o_custkey" >= 5 AND "o_custkey" <= 9' in r.scan_sql()


def test_semijoin_scan_reduces_fetch_and_preserves_join(spark):
    from datafusion_table_providers_spark.sources.suite import (
        _duckdb_parquet_backend,
        _pq,
    )

    dim = (
        spark.read.parquet(_pq(SF_DIR, "customer"))
        .filter(F.col("c_nationkey") == 3)
        .select("c_custkey")
    )
    backend = _duckdb_parquet_backend(SF_DIR)
    scan, strategy = duckdb_semijoin_scan(
        spark,
        backend,
        "orders",
        "o_custkey",
        dim,
        dim_key="c_custkey",
        columns=["o_orderkey", "o_custkey"],
    )
    assert strategy == "in_list"
    full = spark.read.parquet(_pq(SF_DIR, "orders"))
    # the remote engine dropped non-matching customers before the wire
    assert scan.count() < full.count()
    reduced = scan.join(dim, scan.o_custkey == dim.c_custkey).count()
    plain = (
        full.join(dim, full.o_custkey == dim.c_custkey).count()
    )
    assert reduced == plain > 0


def test_range_strategy_end_to_end(spark):
    from datafusion_table_providers_spark.sources.suite import (
        _duckdb_parquet_backend,
        _pq,
    )

    dim = (
        spark.read.parquet(_pq(SF_DIR, "customer"))
        .filter(F.col("c_nationkey") == 3)
        .select("c_custkey")
    )
    backend = _duckdb_parquet_backend(SF_DIR)
    scan, strategy = duckdb_semijoin_scan(
        spark,
        backend,
        "orders",
        "o_custkey",
        dim,
        dim_key="c_custkey",
        in_list_max=2,  # force the min/max fallback
        columns=["o_orderkey", "o_custkey"],
    )
    assert strategy == "range"
    plain = (
        spark.read.parquet(_pq(SF_DIR, "orders"))
        .join(dim, F.col("o_custkey") == F.col("c_custkey"))
        .count()
    )
    assert scan.join(dim, scan.o_custkey == dim.c_custkey).count() == plain > 0


def test_engine_reduced_view_duckdb(spark, tmp_path):
    import duckdb as _duckdb

    from datafusion_table_providers_spark.engine import Engine
    from datafusion_table_providers_spark.sources.backends import DuckDBBackend

    path = str(tmp_path / "facts.duckdb")
    con = _duckdb.connect(path)
    con.execute(
        "CREATE TABLE fact AS SELECT i AS k, i * 10 AS v FROM range(1000) t(i)"
    )
    con.close()
    eng = Engine(spark)
    eng.register_backend_table("fact", DuckDBBackend(path))
    dim = spark.createDataFrame([(5,), (7,), (900,)], "k int")
    reduced = eng.reduced_view("fact", "k", dim)
    assert reduced.count() == 3  # remote engine dropped the other 997 rows
    out = spark.sql(
        "SELECT f.k, f.v FROM fact_reduced f ORDER BY f.k"
    ).collect()
    assert [(r["k"], r["v"]) for r in out] == [(5, 50), (7, 70), (900, 9000)]


def test_engine_reduced_view_sqlite(spark, tmp_path):
    import sqlite3

    from datafusion_table_providers_spark.engine import Engine
    from datafusion_table_providers_spark.sources.backends import SQLiteBackend

    path = str(tmp_path / "facts.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE fact (k INTEGER, v INTEGER)")
    con.executemany(
        "INSERT INTO fact VALUES (?, ?)", [(i, i * 10) for i in range(100)]
    )
    con.commit()
    con.close()
    eng = Engine(spark)
    eng.register_backend_table("fact", SQLiteBackend(path))
    dim = spark.createDataFrame([(3,), (4,)], "k int")
    reduced = eng.reduced_view("fact", "k", dim, view_name="fr")
    assert sorted(r["v"] for r in reduced.collect()) == [30, 40]
    assert spark.sql("SELECT COUNT(*) AS n FROM fr").collect()[0]["n"] == 2


def test_engine_reduced_view_empty_dim_scans_nothing(spark, tmp_path):
    import duckdb as _duckdb

    from datafusion_table_providers_spark.engine import Engine
    from datafusion_table_providers_spark.sources.backends import DuckDBBackend

    path = str(tmp_path / "f2.duckdb")
    con = _duckdb.connect(path)
    con.execute("CREATE TABLE fact AS SELECT i AS k FROM range(50) t(i)")
    con.close()
    eng = Engine(spark)
    eng.register_backend_table("fact", DuckDBBackend(path))
    dim = spark.createDataFrame([], "k int")
    assert eng.reduced_view("fact", "k", dim).count() == 0


def test_string_keys_over_cap_skip_range_fallback(spark):
    # a remote engine's collation may order strings differently from
    # Spark's binary ordering — a BETWEEN could then drop keys the join
    # keeps. Over the IN cap, string keys must yield NO clause.
    dim = spark.createDataFrame(
        [(f"key{i}",) for i in range(50)], "k string"
    )
    clause, strategy = runtime_filter_clause(
        dim, "k", DIALECTS["duckdb"], in_list_max=10
    )
    assert (clause, strategy) == (None, "none")


def test_nan_keys_disable_the_clause(spark):
    # Spark joins match NaN == NaN; remote IN/BETWEEN drop NaN rows — any
    # NaN dim key makes every pushdown clause lossy
    dim = spark.createDataFrame(
        [(1.0,), (float("nan"),), (2.0,)], "k double"
    )
    assert runtime_filter_clause(dim, "k", DIALECTS["duckdb"]) == (
        None,
        "none",
    )


def test_nan_past_the_sample_cap_disables_range(spark):
    vals = [(float(i),) for i in range(40)] + [(float("nan"),)]
    dim = spark.createDataFrame(vals, "k double")
    clause, strategy = runtime_filter_clause(
        dim, "k", DIALECTS["duckdb"], in_list_max=5
    )
    assert (clause, strategy) == (None, "none")


def test_float_range_without_nan_still_works(spark):
    dim = spark.createDataFrame([(float(i),) for i in range(40)], "k double")
    clause, strategy = runtime_filter_clause(
        dim, "k", DIALECTS["duckdb"], in_list_max=5
    )
    assert strategy == "range"
    assert clause.startswith('"k" >= ')


def test_infinite_keys_disable_the_clause_gracefully(spark):
    # MySQL cannot render inf literals — the ladder must degrade to
    # (None, 'none'), not raise mid-scan-build
    dim = spark.createDataFrame(
        [(1.0,), (float("inf"),)], "k double"
    )
    for name in ("mysql", "duckdb"):
        assert runtime_filter_clause(dim, "k", DIALECTS[name]) == (
            None,
            "none",
        )


def test_inf_past_the_sample_cap_disables_range(spark):
    vals = [(float(i),) for i in range(40)] + [(float("-inf"),)]
    dim = spark.createDataFrame(vals, "k double")
    assert runtime_filter_clause(
        dim, "k", DIALECTS["duckdb"], in_list_max=5
    ) == (None, "none")


def test_timestamp_keys_decline_under_non_utc_session(spark):
    # TimestampType literals render in the SESSION timezone; against the
    # UTC-naive storage convention a non-UTC session would emit shifted
    # clauses that drop matching fact rows — the ladder must decline.
    import datetime as dt

    dim = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 12, 0),)], "k timestamp"
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        assert runtime_filter_clause(dim, "k", DIALECTS["duckdb"]) == (
            None,
            "none",
        )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        clause, strategy = runtime_filter_clause(
            dim, "k", DIALECTS["duckdb"]
        )
        assert strategy == "in_list"
        assert "2024-01-01" in clause
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_timestamp_ntz_keys_need_no_utc_gate(spark):
    # NTZ is naive on both sides — session timezone is irrelevant.
    import datetime as dt

    dim = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 12, 0),)], "k timestamp_ntz"
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        clause, strategy = runtime_filter_clause(
            dim, "k", DIALECTS["duckdb"]
        )
        assert strategy == "in_list"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_reduced_view_preserves_partitioned_scan(spark, tmp_path):
    # A table registered with a partition column must keep its parallel
    # read layout when re-registered as a reduced view.
    import duckdb as _duckdb

    from datafusion_table_providers_spark.engine import Engine
    from datafusion_table_providers_spark.sources.backends import DuckDBBackend

    path = str(tmp_path / "pfacts.duckdb")
    con = _duckdb.connect(path)
    con.execute(
        "CREATE TABLE fact AS SELECT i AS k, i * 10 AS v FROM range(1000) t(i)"
    )
    con.close()
    eng = Engine(spark)
    eng.register_backend_table(
        "fact", DuckDBBackend(path), partition_column="k", num_partitions=4
    )
    dim = spark.createDataFrame([(i,) for i in range(200, 220)], "k int")
    reduced = eng.reduced_view("fact", "k", dim)
    assert reduced.count() == 20
    # the reduced scan keeps the registration's 4-way partitioned read
    assert reduced.rdd.getNumPartitions() == 4


def test_c15_empty_filter_matches_oracle(spark, tmp_path):
    # No BUILDING customer of nation 5: the runtime filter is FALSE
    # ("empty"), and c15 must return the oracle's (empty) answer.
    import shutil

    import duckdb as _duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from datafusion_table_providers_spark.sources.suite import (
        C15_SQL,
        c15_runtime_filter_scan,
    )

    for name in ("nation", "region", "orders", "supplier", "part"):
        shutil.copy(f"{SF_DIR}/{name}.parquet", tmp_path / f"{name}.parquet")
    cust = pq.read_table(f"{SF_DIR}/customer.parquet")
    seg = cust.column_names.index("c_mktsegment")
    cust = cust.set_column(
        seg,
        "c_mktsegment",
        pc.if_else(
            pc.equal(cust["c_mktsegment"], "BUILDING"),
            "MACHINERY",
            cust["c_mktsegment"],
        ),
    )
    pq.write_table(cust, tmp_path / "customer.parquet")

    got = c15_runtime_filter_scan(spark, str(tmp_path)).collect()
    con = _duckdb.connect()
    for name in ("orders", "customer"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{tmp_path / f'{name}.parquet'}')"
        )
    want = con.execute(C15_SQL).fetchall()
    assert got == [] and want == []
