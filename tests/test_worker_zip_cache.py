"""The stamp-guarded ``zipimporter.invalidate_caches`` of ``session.py``:
an unchanged archive is not re-read, a rewritten one is, and the guard
reaches the Python workers that import the package."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import datafusion_table_providers_spark  # noqa: F401  (installs the guard)

GUARDED = sys.version_info < (3, 12)


@pytest.fixture()
def reads(monkeypatch):
    """Archives ``zipimport._read_directory`` read, in call order."""
    real = zipimport._read_directory
    seen = []

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.mark.skipif(not GUARDED, reason="the stdlib re-read is lazy from 3.12")
def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(
        tmp_path, monkeypatch, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zguard_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    for name in ("zguard_a", "zguard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zguard_a").X == 1
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    importlib.invalidate_caches()  # first call: no stamps yet
    reads.clear()
    importer.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"zguard_a": "X = 1\n", "zguard_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("zguard_b").Y == 2

    # a removed archive empties the importer, as the stdlib method does
    os.remove(archive)
    importer.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


@pytest.mark.skipif(GUARDED, reason="the guard is installed below 3.12")
def test_stdlib_method_untouched_from_312():
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "stamps")


def test_guard_installs_once():
    from datafusion_table_providers_spark import session

    method = zipimport.zipimporter.invalidate_caches
    session._guard_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is method


def test_worker_second_invalidation_reads_no_archive(spark):
    """A task imports the package (as connector and writer tasks do), then
    counts archive reads of a second ``importlib.invalidate_caches()``, the
    call PySpark's worker makes before every task and planner call."""
    import pyarrow as pa

    def probe(batches):
        import importlib as il
        import sys as s
        import zipimport as zi

        import datafusion_table_providers_spark  # noqa: F401

        real = zi._read_directory
        n = [0]

        def counting(archive):
            n[0] += 1
            return real(archive)

        zi._read_directory = counting
        try:
            il.invalidate_caches()
            n[0] = 0
            il.invalidate_caches()
        finally:
            zi._read_directory = real
        zips = sum(isinstance(i, zi.zipimporter)
                   for i in s.path_importer_cache.values())
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [n[0]], "zips": [zips]})

    rows = (spark.range(1, numPartitions=1)
            .mapInArrow(probe, "reads long, zips long").collect())
    assert len(rows) == 1
    if GUARDED:
        assert rows[0]["zips"] > 0  # the worker does hold zip importers
        assert rows[0]["reads"] == 0
