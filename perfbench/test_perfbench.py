"""Tests of the benchmark itself (not of the engine).

Run from the repository root: ``python3 -m pytest perfbench -q``. The
end-to-end cases start Spark several times at the tiny scale and take a few
minutes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.check import digest, load_expected  # noqa: E402
from perfbench.run import tail  # noqa: E402
from perfbench.workloads import SCALES  # noqa: E402

#: count metrics that must repeat exactly between two traced runs
COUNTS = ["build.jobs", "exec.jobs", "exec.stages", "build.checkpoints",
          "memo.entries", "backends.calls", "sources.rows_shipped"]


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_bench(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--cycles", "1", "--scale", "tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=600,
                         check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def traced_pairs():
    return {w: (run_bench(w, 1), run_bench(w, 1))
            for w in ("connector_io", "dedup_curation")}


@pytest.fixture(scope="module")
def planted(tmp_path_factory):
    """An untraced dedup run whose stored d26 digest was corrupted."""
    exp = load_expected()
    dataset = SCALES["tiny"]["dedup_curation"]
    exp[dataset]["d26_fuzzy_decontaminate"]["digest"] = "0" * 32
    path = tmp_path_factory.mktemp("expected") / "expected.json"
    path.write_text(json.dumps(exp))
    return run_bench("dedup_curation", 0, "--expected", str(path))


def test_digest_ignores_row_and_column_order():
    a = digest(["x", "y"], [(1, 2.0), (3, 4.0)])
    b = digest(["y", "x"], [(4.0, 3), (2.0, 1)])
    assert a == b
    assert digest(["x"], [(1.0000001,)]) == digest(["x"], [(1.0,)])
    assert digest(["x"], [(1.001,)]) != digest(["x"], [(1.0,)])
    assert digest(["t"], [(dt.datetime(2020, 1, 1),)]) != digest(["t"], [(None,)])


def test_tail_uses_ten_samples_beyond():
    samples = {"a": [1.0] * 30 + [2.0] * 5}
    ratio, n = tail(samples)
    assert n == 35 and ratio == 1.0  # the 5 slow samples are beyond p71
    samples = {"a": [1.0] * 20 + [3.0] * 12}
    assert tail(samples)[0] == 3.0


def test_traced_count_metrics_repeat(traced_pairs):
    for workload, (a, b) in traced_pairs.items():
        assert a["failed"] == b["failed"] == 0, workload
        for k in COUNTS:
            assert a["metrics"][k]["value"] == b["metrics"][k]["value"], (
                workload, k)


def test_traced_runs_see_each_layer(traced_pairs):
    io = traced_pairs["connector_io"][0]["metrics"]
    dd = traced_pairs["dedup_curation"][0]["metrics"]
    assert io["sources.rows_shipped"]["value"] > 0
    assert io["backends.calls"]["value"] > 0
    assert io["dynamic_filter.s"]["value"] > 0
    assert io["write.sqlite_loop.rows_per_s"]["value"] > 0
    # the writer.update probe on the primary-key table ran once and its
    # outcome, whatever it is, counts in fail_frac
    run = traced_pairs["connector_io"][0]
    probes = io["write.pk_update_probes"]["value"]
    assert probes == 1
    assert io["fail_frac"]["value"] == (
        (run["failed"] + io["write.pk_update_failed"]["value"])
        / (run["attempted"] + probes))
    assert dd["build.checkpoints"]["value"] > 0
    assert dd["memo.entries"]["value"] > 0
    assert dd["fail_frac"]["value"] == 0


def test_planted_wrong_digest_is_a_failure(planted):
    assert planted["attempted"] == 3
    assert planted["failed"] == 1
    assert planted["correct"] is False


def test_every_metric_has_its_name_and_unit(traced_pairs, planted):
    spec = bench_spec()
    want_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    got = {k: v["unit"] for k, v in planted["metrics"].items()}
    assert got == want_e2e
    for a, _ in traced_pairs.values():
        got = {k: v["unit"] for k, v in a["metrics"].items()}
        assert got == want_layer
        assert all(isinstance(v["value"], float) for v in a["metrics"].values())
