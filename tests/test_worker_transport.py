"""How ``get_spark`` sessions reach their Python workers: a Unix domain
socket in a short private directory, and workers forked from the package's
warm daemon (``session.py`` module docstring)."""

import json
import os
import shlex
import stat
import subprocess
import sys
import tempfile

from datafusion_table_providers_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Spark's limit on a configured socket directory
SOCKET_DIR_MAX = 61


def test_session_workers_use_unix_socket(spark):
    """A ``mapInArrow`` task and a Python Data Source read task each see the
    flag Spark exports to workers it reaches over a Unix socket."""
    import pyarrow as pa
    from pyspark.sql.datasource import DataSource, DataSourceReader

    def arrow_env(batches):
        import os as o

        for _ in batches:
            pass
        flag = o.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "unset")
        yield pa.RecordBatch.from_pydict({"v": [flag]})

    class EnvReader(DataSourceReader):
        def read(self, partition):
            import os as o

            yield (o.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "unset"),)

    class EnvSource(DataSource):
        @classmethod
        def name(cls):
            return "worker_env_probe"

        def schema(self):
            return "v string"

        def reader(self, schema):
            return EnvReader()

    spark.dataSource.register(EnvSource)
    arrow = spark.range(1, numPartitions=1).mapInArrow(arrow_env, "v string")
    source = spark.read.format("worker_env_probe").load()
    # Spark exports "True"; PySpark compares it lowercased
    assert [r.v.lower() for r in arrow.collect()] == ["true"]
    assert [r.v.lower() for r in source.collect()] == ["true"]
    assert spark.conf.get("spark.python.unix.domain.socket.dir") == (
        session._socket_dir())


def test_socket_dir_is_short_and_private_whatever_tmpdir(tmp_path, monkeypatch):
    long_tmp = tmp_path / ("t" * 100)
    long_tmp.mkdir()
    monkeypatch.setenv("TMPDIR", str(long_tmp))
    monkeypatch.setattr(tempfile, "tempdir", None)
    path = session._socket_dir.__wrapped__()  # a fresh one, not the cached
    try:
        assert len(path) <= SOCKET_DIR_MAX
        assert not path.startswith(str(long_tmp))
        assert stat.S_IMODE(os.stat(path).st_mode) == 0o700
    finally:
        os.rmdir(path)
    assert session._socket_dir() == session._socket_dir()


#: Run in a subprocess under long temp paths. The first task reports which
#: modules its worker had loaded before the task ran, then a DuckDB
#: connector scan and a ``distributed_insert`` run.
SCRIPT = """
import json, sys
import pyarrow as pa
from datafusion_table_providers_spark.session import get_spark
from datafusion_table_providers_spark.sources.backends import DuckDBBackend
from datafusion_table_providers_spark.sources.duckdb_source import (
    duckdb_reader_df)
from datafusion_table_providers_spark.write.writer import distributed_insert

WATCHED = ("duckdb", "pandas", "datafusion_table_providers_spark.sources.sql_scan")

def loaded(batches):
    import sys as s
    names = [m for m in WATCHED if m in s.modules]
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"m": [",".join(names)]})

db, sink = sys.argv[1:3]
spark = get_spark("worker_transport")
first = spark.range(1, numPartitions=1).mapInArrow(loaded, "m string").collect()
b = DuckDBBackend(db)
b.execute("CREATE TABLE t AS SELECT range AS id FROM range(100)")
b.close()
scanned = duckdb_reader_df(spark, b, "t").filter("id >= 40").count()
inserted = distributed_insert(
    spark.range(0, 200, 1, 4), "sink", "sqlite3", connect_args=[sink],
    dialect_name="sqlite", create=True)
print(json.dumps({
    "preloaded": first[0].m.split(","),
    "scanned": scanned,
    "inserted": inserted,
    "socket_dir": spark.conf.get("spark.python.unix.domain.socket.dir"),
}))
"""


def test_long_temp_paths_and_warm_workers(tmp_path):
    """Spark's default socket directory is ``java.io.tmpdir``; under a
    100+-character one every worker failed with ``AF_UNIX path too long``.
    With the session's own directory, scans and distributed writes run, a
    fresh worker starts with the connector modules loaded, and the directory
    is gone once the driver exits."""
    import sqlite3

    run = tmp_path / ("r" * 60) / ("w" * 40)
    dirs = {k: run / k for k in ("tmp", "spark_local")}
    for d in dirs.values():
        d.mkdir(parents=True)
    assert len(str(dirs["tmp"])) >= 100
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        TMPDIR=str(dirs["tmp"]),
        SPARK_LOCAL_DIRS=str(dirs["spark_local"]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"),
            "pyspark-shell",
        ]),
    )
    sink = str(tmp_path / "sink.db")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path / "src.duckdb"), sink],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(out["preloaded"]) == sorted(
        ["duckdb", "pandas", "datafusion_table_providers_spark.sources.sql_scan"]
    )
    assert out["scanned"] == 60
    assert out["inserted"] in (200, -1)
    with sqlite3.connect(sink) as con:
        assert con.execute("SELECT COUNT(*) FROM sink").fetchone()[0] == 200
    assert len(out["socket_dir"]) <= SOCKET_DIR_MAX
    assert not os.path.exists(out["socket_dir"])
    left = [f for d, _, fs in os.walk(run) for f in fs if f.endswith(".sock")]
    assert left == []
