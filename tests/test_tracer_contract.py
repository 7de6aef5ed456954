"""The benchmark's traced run wraps package functions by name
(``perfbench/trace.py::Tracer.install``). A renamed or deleted name makes
every traced run raise, or silently drops a per-layer figure, so the names
it patches are pinned here."""

from __future__ import annotations

from perfbench.trace import Tracer


def test_tracer_patches_names_the_package_has(spark):
    patched = []
    tracer = Tracer.__new__(Tracer)
    tracer.spark = spark

    def keep(fn, layer, *args, **kwargs):
        # record and hand the function back unchanged, so install() puts
        # the original object back in place
        patched.append((layer, fn.__qualname__))
        return fn

    tracer._timed = keep
    tracer.install()  # getattr raises AttributeError on a missing name
    got = set(patched)
    backend_methods = {
        ("backends", f"{cls}.{m}")
        for cls, methods in (
            ("DuckDBBackend", ("execute", "query_arrow", "query_arrow_batches")),
            ("SQLiteBackend", ("execute", "executemany", "query_arrow",
                               "query_arrow_batches")),
        )
        for m in methods
    }
    # install() skips a backend method the class lacks instead of raising
    assert backend_methods <= got, backend_methods - got
    assert {
        ("dynamic_filter", "runtime_filter_clause"),
        ("engine", "materialize_remote"),
        ("constraint", "validate_not_null"),
        ("constraint", "validate_unique"),
        ("dml", "delete_from"),
        ("dml", "update"),
    } <= got
