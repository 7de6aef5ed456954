"""Partial-subtree federation tests: maximal same-context subtrees run as
ONE remote SQL; Spark executes the cross-source remainder
(federation.rs:62-110 semantics)."""

from pyspark.sql import types as T

from datafusion_table_providers_spark.federation import (
    FederationPlan,
    materialize,
    table,
)
from datafusion_table_providers_spark.sources.backends import (
    DuckDBBackend,
    SQLiteBackend,
)
from datafusion_table_providers_spark.write import writer

from tests.conftest import SF_DIR

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def _setup(spark, tmp_path):
    duck = DuckDBBackend(str(tmp_path / "fed.duckdb"))
    writer.insert_into(
        duck, "t1",
        spark.createDataFrame([(i, f"g{i % 3}", float(i)) for i in range(30)], SCHEMA),
    )
    writer.insert_into(
        duck, "t2",
        spark.createDataFrame([(i, f"g{i % 3}", i * 2.0) for i in range(30)], SCHEMA),
    )
    lite = SQLiteBackend(str(tmp_path / "fed.db"))
    writer.insert_into(
        lite, "t3",
        spark.createDataFrame([(i, f"g{i % 3}", i * 10.0) for i in range(3)], SCHEMA),
    )
    return duck, lite


def test_same_context_join_pushed_as_one_sql(spark, tmp_path):
    duck, _ = _setup(spark, tmp_path)
    plan = FederationPlan()
    # project to stable names first — join conditions reference those
    rel = (
        table("t1", duck).select("id AS lid", "grp AS lgrp")
        .join(table("t2", duck).select("id AS rid", "v AS rv"), on="lid = rid")
        .agg(["lgrp"], "COUNT(*) AS n", "SUM(rv) AS sv")
    )
    df = materialize(spark, rel, explain=plan)
    rows = {r["lgrp"]: (r["n"], r["sv"]) for r in df.collect()}
    assert rows == {"g0": (10, 270.0), "g1": (10, 290.0), "g2": (10, 310.0)}
    assert len(plan.pushed) == 1  # whole tree → ONE remote statement
    assert "JOIN" in plan.pushed[0][1]
    assert plan.remainder_sql is None


def test_cross_source_remainder_in_spark(spark, tmp_path):
    duck, lite = _setup(spark, tmp_path)
    plan = FederationPlan()
    duck_side = (
        table("t1", duck).select("id AS did", "grp AS dgrp")
        .join(table("t2", duck).select("id AS oid", "v AS ov"), on="did = oid")
        .agg(["dgrp"], "SUM(ov) AS duck_sum")
    )
    lite_side = table("t3", lite).select("grp AS sgrp", "v AS sv")
    rel = duck_side.join(lite_side, on="dgrp = sgrp")
    df = materialize(spark, rel, explain=plan)
    got = {(r["dgrp"]): (r["duck_sum"], r["sv"]) for r in df.collect()}
    assert got == {"g0": (270.0, 0.0), "g1": (290.0, 10.0), "g2": (310.0, 20.0)}
    # two pushed fragments (one per context), remainder join in Spark
    ctxs = {c for c, _ in plan.pushed}
    assert len(plan.pushed) == 2 and len(ctxs) == 2
    assert plan.remainder_sql is not None and "JOIN" in plan.remainder_sql


def test_spark_native_leaf_poisons_pushdown(spark, tmp_path):
    duck, _ = _setup(spark, tmp_path)
    spark.createDataFrame(
        [(0, "g0"), (1, "g1")], "nid long, ngrp string"
    ).createOrReplaceTempView("native_t")
    plan = FederationPlan()
    rel = (
        table("t1", duck).select("id AS did", "grp AS dgrp")
        .join(table("native_t"), on="dgrp = ngrp")
        .agg(["ngrp"], "COUNT(*) AS n")
    )
    df = materialize(spark, rel, explain=plan)
    got = {r["ngrp"]: r["n"] for r in df.collect()}
    assert got == {"g0": 10, "g1": 10}
    assert len(plan.pushed) == 1  # only the duckdb projection was pushed


def test_union_and_window_push_as_one_sql(spark, tmp_path):
    """UNION ALL of same-backend branches — each carrying a window
    expression — must federate into ONE remote statement."""
    duck, _ = _setup(spark, tmp_path)
    plan = FederationPlan()
    w = "SUM(v) OVER (PARTITION BY grp ORDER BY id) AS running"
    rel = (
        table("t1", duck).select("id", "grp", w)
        .union(table("t2", duck).select("id", "grp", w))
        .agg(["grp"], "COUNT(*) AS n", "MAX(running) AS mx")
    )
    df = materialize(spark, rel, explain=plan)
    rows = {r["grp"]: (r["n"], r["mx"]) for r in df.collect()}
    assert len(plan.pushed) == 1, "union+windows must push as one statement"
    assert "UNION ALL" in plan.pushed[0][1]
    assert "OVER (PARTITION BY" in plan.pushed[0][1]
    assert plan.remainder_sql is None  # whole plan went remote
    # oracle: same SQL straight on the backend
    want = {
        r["grp"]: (r["n"], r["mx"])
        for r in duck.query_arrow(
            "SELECT grp, COUNT(*) AS n, MAX(running) AS mx FROM ("
            f"SELECT id, grp, {w} FROM t1 UNION ALL "
            f"SELECT id, grp, {w} FROM t2) u GROUP BY grp"
        ).to_pylist()
    }
    assert rows == want


def test_cross_context_union_splits(spark, tmp_path):
    """UNION across different backends: each branch pushes separately and
    Spark unions the fragments."""
    duck, lite = _setup(spark, tmp_path)
    plan = FederationPlan()
    rel = (
        table("t1", duck).agg(["grp"], "COUNT(*) AS n")
        .union(table("t3", lite).agg(["grp"], "COUNT(*) AS n"))
    )
    df = materialize(spark, rel, explain=plan)
    assert len(plan.pushed) == 2  # one per backend
    assert df.count() == 6  # 3 groups from each side (UNION ALL)


def test_minimal_third_party_backend_spools_above_threshold(spark, tmp_path):
    """query_arrow_batches is part of the Backend contract: a third-party
    subclass implementing only query_arrow still streams through the base
    re-chunking default, so materialize_remote's spool guard applies and
    the unbounded full-result createDataFrame hop cannot come back."""
    import duckdb
    import pyarrow as pa

    from datafusion_table_providers_spark.core.expr import DIALECTS
    from datafusion_table_providers_spark.sources.backends import Backend
    from datafusion_table_providers_spark.sources.transport import (
        materialize_remote,
    )

    class MinimalBackend(Backend):
        def __init__(self):
            self.dialect = DIALECTS["duckdb"]
            self._con = duckdb.connect()

        def compute_context(self):
            return "minimal:"

        def query_arrow(self, sql: str) -> pa.Table:
            return self._con.execute(sql).fetch_arrow_table()

    b = MinimalBackend()
    df = materialize_remote(
        spark,
        b,
        "SELECT range AS id, range * 2 AS v FROM range(5000)",
        threshold_rows=1000,
        spool_dir=str(tmp_path),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in plan.lower(), plan
    assert df.count() == 5000
    # small results still take the one-hop in-memory path
    df2 = materialize_remote(
        spark, b, "SELECT 1 AS one", threshold_rows=1000, spool_dir=str(tmp_path)
    )
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "parquet" not in plan2.lower(), plan2
    assert df2.count() == 1


def test_small_federated_fragment_broadcasts(spark, tmp_path):
    """A fragment that stays on the in-memory path is known-small, so it
    carries a broadcast hint into downstream joins against native tables."""
    import duckdb
    import pyarrow as pa

    from datafusion_table_providers_spark.core.expr import DIALECTS
    from datafusion_table_providers_spark.sources.backends import Backend
    from datafusion_table_providers_spark.sources.transport import (
        materialize_remote,
    )

    class MiniBackend(Backend):
        def __init__(self):
            self.dialect = DIALECTS["duckdb"]
            self._con = duckdb.connect()

        def compute_context(self):
            return "mini:"

        def query_arrow(self, sql: str) -> pa.Table:
            return self._con.execute(sql).fetch_arrow_table()

    dim = materialize_remote(
        spark,
        MiniBackend(),
        "SELECT range AS k, 'g' || (range % 5) AS grp FROM range(100)",
        threshold_rows=1000,
        broadcast_hint=True,
    )
    fact = spark.range(50_000).selectExpr("id % 100 AS k", "id AS v")
    joined = fact.join(dim, "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert joined.count() == 50_000


#: Spools one fragment to the default directory and one to a caller's, runs
#: two registry entries that write sink databases, then exits; prints where
#: each went.
SPOOL_SCRIPT = """
import json, os, sys
from datafusion_table_providers_spark.session import get_spark, scratch_dir
from datafusion_table_providers_spark.sources.backends import DuckDBBackend
from datafusion_table_providers_spark.sources.transport import materialize_remote
from datafusion_table_providers_spark.suite import FULL_SUITE

spark = get_spark("spool_cleanup")
b = DuckDBBackend(":memory:")
sql = "SELECT range AS id FROM range(10)"
df = materialize_remote(spark, b, sql, threshold_rows=0)
kept = materialize_remote(spark, b, sql, threshold_rows=0, spool_dir=sys.argv[1])
spooled = os.listdir(scratch_dir())
sinks = [FULL_SUITE[n].fn(spark, sys.argv[2]).count()
         for n in ("c04_duckdb_write_roundtrip", "c12_adbc_scan")]
print(json.dumps({"rows": [df.count(), kept.count()], "scratch": scratch_dir(),
                  "spooled": spooled, "sinks": sinks}))
"""


def test_default_spool_removed_at_exit(tmp_path):
    """A fragment spooled without ``spool_dir``, and the sink databases of
    the connector entries, land in the process's scratch directory under
    the temp dir, which is gone once the driver exits; a caller's
    ``spool_dir`` keeps its file."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp, keep = tmp_path / "tmp", tmp_path / "keep"
    tmp.mkdir()
    keep.mkdir()
    env = dict(
        os.environ,
        PYTHONPATH=root,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        TMPDIR=str(tmp),
        PYSPARK_PYTHON=sys.executable,
    )
    proc = subprocess.run(
        [sys.executable, "-c", SPOOL_SCRIPT, str(keep), SF_DIR],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["rows"] == [10, 10]
    assert out["scratch"].startswith(str(tmp))
    assert [f.startswith("fed_spool_") for f in out["spooled"]] == [True]
    assert all(n > 0 for n in out["sinks"]), out["sinks"]
    assert not os.path.exists(out["scratch"])
    left = [f for _, dirs, files in os.walk(tmp) for f in dirs + files
            if f.startswith("engine_")]
    assert left == []
    assert [f.name.startswith("fed_spool_") for f in keep.iterdir()] == [True]
