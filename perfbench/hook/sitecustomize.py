"""Scan logging for the benchmark's traced run, loaded by Python workers.

The traced run puts this directory on the workers' ``PYTHONPATH`` and sets
``PERFBENCH_SCAN_LOG``; every Python process Spark starts then imports this
module at start-up. When a connector reader module is imported, its
``read(partition)`` is wrapped to append one JSON line per partition scan
(the exact SQL pushed plus what is needed to reconnect) to the log while
the flag file ``<log>.on`` exists, i.e. during traced cycles. The driver
replays those statements after each op (trace.py). Without the environment
variable this module does nothing.
"""

import os

_LOG = os.environ.get("PERFBENCH_SCAN_LOG")


def _log(rec) -> None:
    import json

    line = (json.dumps(rec) + "\n").encode()
    fd = os.open(_LOG, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    try:
        os.write(fd, line)
    finally:
        os.close(fd)


def _wrap_read(cls, describe) -> None:
    orig = cls.read

    def read(self, partition):
        if os.path.exists(_LOG + ".on"):
            _log(describe(self, partition))
        return orig(self, partition)

    cls.read = read


def _duckdb(m) -> None:
    import json

    def describe(r, p):
        o = r.options
        settings = json.loads(o.get("settings", "{}"))
        if len(json.loads(o.get("partition_clauses", "[]"))) > 1:
            settings.setdefault("threads", m._TASK_THREADS)
        return {
            "kind": "duckdb",
            "path": o.get("path", ":memory:"),
            "settings": settings,
            "parquet_tables": json.loads(o.get("parquet_tables", "{}")),
            "sql": r.scan_sql(p),
        }

    _wrap_read(m.DuckDBReader, describe)


def _dbapi(m) -> None:
    import json

    def describe(r, p):
        o = r.options
        return {
            "kind": "sqlite" if o["module"] == "sqlite3" else o["module"],
            "path": json.loads(o.get("connect_args", "[]"))[0],
            "sql": r.scan_sql(p),
        }

    _wrap_read(m.DBAPIReader, describe)


def _sqlite(m) -> None:
    def describe(r, p):
        return {
            "kind": "sqlite",
            "path": r.options["path"],
            "sql": m.build_select(r.dialect, r.relation, r.columns, r.where),
        }

    _wrap_read(m.SQLiteReader, describe)


_PKG = "datafusion_table_providers_spark.sources."
_PATCHES = {
    _PKG + "duckdb_source": _duckdb,
    _PKG + "dbapi_source": _dbapi,
    _PKG + "sqlite_source": _sqlite,
}


class _PostImport:
    """Meta-path finder that runs a patch right after a module executes."""

    def find_spec(self, name, path=None, target=None):
        if name not in _PATCHES:
            return None
        import importlib.util
        import sys

        sys.meta_path.remove(self)
        try:
            spec = importlib.util.find_spec(name)
        finally:
            sys.meta_path.insert(0, self)
        if spec is None or spec.loader is None:
            return spec
        exec_module = spec.loader.exec_module

        def exec_and_patch(module):
            exec_module(module)
            _PATCHES[name](module)

        spec.loader.exec_module = exec_and_patch
        return spec


if _LOG:
    import sys

    sys.meta_path.insert(0, _PostImport())
