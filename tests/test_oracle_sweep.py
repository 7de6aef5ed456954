"""The strict DuckDB oracle over the whole registry: every ``queries()``
entry at sf0.001, compared with bit-exact floats by the same function
``tools/verify_local.py`` runs, so a failure here is a failure there; and
the per-entry record that sweep prints."""

from __future__ import annotations

import json
import sys

import pytest

import __spark_entry__ as entrymod
import verify_local
from verify_local import compare_entry, oracle_connection

from tests.conftest import SF_DIR

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def oracle():
    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_entry_matches_strict_oracle(spark, oracle, name):
    verdict, detail = compare_entry(
        spark, oracle, QUERIES[name], ORACLES.get(name), SF_DIR
    )
    assert verdict != "FAIL", f"{name}: {detail}"


RECORD_FIELDS = {
    "name", "verdict", "detail",
    "build.s", "build.jobs",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.shuffle_write_records", "exec.shuffle_write_mb", "exec.spill_mb",
    "exec.task_max_s", "exec.task_median_s",
    "plan.exchanges", "plan.broadcasts", "plan.checkpointed_scans",
}


def test_sweep_prints_one_record_per_entry(spark, monkeypatch, capsys):
    names = ["c01_duckdb_scan_pushdown", "d02b_minhash_lsh_pairs"]
    monkeypatch.setattr(sys, "argv", ["verify_local.py", SF_DIR, *names])
    assert verify_local.main() == 0
    out, err = capsys.readouterr()
    recs = {r["name"]: r for r in map(json.loads, out.splitlines())}
    assert sorted(recs) == names
    assert "2 passed, 0 failed, 0 rows-only" in err
    for r in recs.values():
        assert set(r) == RECORD_FIELDS
        assert r["verdict"] == "PASS", r["detail"]
        assert r["exec.jobs"] > 0 and r["exec.stages"] > 0
    # d02b reads its memoized signatures back from a checkpoint; c01 scans
    # the connector only
    assert recs["d02b_minhash_lsh_pairs"]["plan.checkpointed_scans"] >= 1
    assert recs["c01_duckdb_scan_pushdown"]["plan.checkpointed_scans"] == 0
    # test_build_jobs.py::test_d02b_build_job_budget's bound
    assert recs["d02b_minhash_lsh_pairs"]["build.jobs"] <= 6
