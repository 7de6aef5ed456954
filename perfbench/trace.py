"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Everything here lives in the benchmark: wrappers are installed around the
package's public functions on the driver, Spark job / stage figures come
from ``statusTracker`` job groups and the monitoring REST API, and scans
executed in Python workers are logged by ``hook/sitecustomize.py``. Spans
are kept in memory and written out when the run ends.

Per op the tracer records, by layer:

- build / exec: wall seconds and Spark jobs of each phase (job groups);
  for the action's jobs, completed stages and tasks, executor run time,
  shuffle write, disk spill and the longest stage's task skew; JVM GC time
  over the whole op; shuffle and broadcast exchanges in the final plan;
  ``localCheckpoint``/``checkpoint`` calls.
- sources: every pushed scan SQL, replayed afterwards through
  ``Backend.query_arrow_batches`` (remote seconds, rows shipped).
- dynamic_filter / engine / write / backends: driver-side seconds and calls
  of the wrapped functions.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

#: counters summed per op; each is one per-layer figure
COUNTERS = (
    "backends.calls", "backends.s", "dynamic_filter.s", "engine.federate_s",
    "write.constraint_s", "write.dml_s", "build.checkpoints",
)


class Tracer:
    def __init__(self, spark, scan_log: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.scan_log = scan_log
        self._scan_off = 0
        self._on = False
        self.spans = []
        self.counts = defaultdict(float)
        self._depth = defaultdict(int)
        self._op = None
        self._rest = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    @property
    def on(self) -> bool:
        return self._on

    @on.setter
    def on(self, value: bool) -> None:
        """Tracing on or off, on the driver and in the Python workers: the
        workers log scans only while the flag file exists, so untraced
        cycles do not pay for scan logging."""
        self._on = bool(value)
        flag = self.scan_log + ".on"
        if self._on:
            open(flag, "a").close()
        elif os.path.exists(flag):
            os.remove(flag)

    @contextmanager
    def paused(self):
        """Driver-side wrappers off, e.g. while an op's output is checked."""
        was, self._on = self._on, False
        try:
            yield
        finally:
            self._on = was

    # -- driver-side wrappers ------------------------------------------
    def _timed(self, fn, layer, calls=None, seconds=None):
        """Wrap ``fn`` so each outermost call adds to ``calls`` / ``seconds``
        counters; calls nested inside another call of the same layer are
        not counted twice. Generator results are timed per ``next``."""
        tracer = self

        def account(dt, first):
            if first and calls:
                tracer.counts[calls] += 1
            if seconds:
                tracer.counts[seconds] += dt

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if not tracer._on or tracer._depth[layer]:
                return fn(*a, **kw)
            tracer._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                out = fn(*a, **kw)
            finally:
                tracer._depth[layer] -= 1
                account(time.perf_counter() - t0, True)
            if hasattr(out, "__next__") and hasattr(out, "send"):
                return tracer._timed_gen(out, layer, account)
            return out

        return wrapper

    def _timed_gen(self, it, layer, account):
        while True:
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                item = next(it)
            except StopIteration:
                return
            finally:
                self._depth[layer] -= 1
                account(time.perf_counter() - t0, False)
            yield item

    def install(self) -> None:
        from datafusion_table_providers_spark.sources import (
            backends,
            dynamic_filter,
            transport,
        )
        from datafusion_table_providers_spark.write import writer

        def patch(owner, name, layer, calls=None, seconds=None):
            setattr(owner, name, self._timed(getattr(owner, name), layer,
                                             calls, seconds))

        for cls in (backends.DuckDBBackend, backends.SQLiteBackend):
            for name in ("execute", "executemany", "query_arrow",
                         "query_arrow_batches"):
                if name in vars(cls):
                    patch(cls, name, "backends", "backends.calls",
                          "backends.s")
        patch(dynamic_filter, "runtime_filter_clause", "dynamic_filter",
              seconds="dynamic_filter.s")
        patch(transport, "materialize_remote", "engine",
              seconds="engine.federate_s")
        for name in ("validate_not_null", "validate_unique"):
            patch(writer, name, "constraint", seconds="write.constraint_s")
        for name in ("delete_from", "update"):
            patch(writer, name, "dml", seconds="write.dml_s")
        df_cls = type(self.spark.range(1))
        for name in ("localCheckpoint", "checkpoint"):
            patch(df_cls, name, "checkpoint", calls="build.checkpoints")

    # -- op spans --------------------------------------------------------
    def begin_op(self, name: str, cycle: int) -> None:
        self._new_scans()  # drop scans logged outside traced ops
        self.counts = defaultdict(float)
        self._op = {"op": name, "cycle": cycle, "phases": {}}
        self._gc0 = self._gc_ms()

    @contextmanager
    def phase(self, phase: str):
        """Run one phase under its own job group and record its span."""
        op = self._op
        group = f"perfbench:{op['cycle']}:{op['op']}:{phase}"
        self.sc.setJobGroup(group, group)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            op["phases"][phase] = {"start": t0, "end": t1, "jobs": jobs}

    def end_op(self, df, memo_entries: int) -> dict:
        """Collect the op's Spark figures; returns its per-layer record."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        op = self._op
        rec = {k: self.counts.get(k, 0.0) for k in COUNTERS}
        for name in ("build", "exec"):  # a phase that raised may be missing
            ph = op["phases"].get(name, {"start": 0.0, "end": 0.0, "jobs": []})
            rec[f"{name}.s"] = ph["end"] - ph["start"]
            rec[f"{name}.jobs"] = len(ph["jobs"])
        rec["memo.entries"] = memo_entries
        rec.update(self._stage_figures(
            op["phases"].get("exec", {"jobs": []})["jobs"]))
        rec["jvm.gc_s"] = (self._gc_ms() - self._gc0) / 1000.0
        rec.update(plan_counts(df))
        rec.update(self._replay_scans())
        rec["cycle"] = op["cycle"]
        self.spans.append({**op, "metrics": rec})
        return rec

    # -- Spark monitoring API -------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._rest + path, timeout=30) as r:
            return json.load(r)

    def _gc_ms(self) -> float:
        return sum(e.get("totalGCTime", 0) for e in self._get("/executors"))

    def _stage_figures(self, job_ids) -> dict:
        stages, tasks, n_stages = {}, 0, 0
        for jid in job_ids:
            job = self._get(f"/jobs/{jid}")
            n_stages += job["numCompletedStages"]
            tasks += job["numCompletedTasks"]
            for sid in job["stageIds"]:
                if sid in stages:
                    continue
                for att in self._get(f"/stages/{sid}?details=false"):
                    if att["status"] == "COMPLETE":
                        stages[sid] = att
        run_ms = sum(s["executorRunTime"] for s in stages.values())
        skew = 1.0
        if stages:
            top = max(stages.values(), key=lambda s: s["executorRunTime"])
            q = self._get(
                f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary"
                "?quantiles=0.5,1.0"
            )["executorRunTime"]
            skew = q[1] / q[0] if q[0] > 0 else 1.0
        mb = 1024.0 * 1024.0
        return {
            "exec.stages": n_stages,
            "exec.tasks": tasks,
            "exec.executor_run_s": run_ms / 1000.0,
            "exec.shuffle_write_mb": sum(
                s["shuffleWriteBytes"] for s in stages.values()) / mb,
            "exec.spill_mb": sum(
                s["diskBytesSpilled"] for s in stages.values()) / mb,
            "exec.task_skew": skew,
        }

    # -- connector scans --------------------------------------------------
    def _new_scans(self) -> list:
        if not os.path.exists(self.scan_log):
            return []
        with open(self.scan_log) as f:
            f.seek(self._scan_off)
            lines = f.readlines()
            self._scan_off = f.tell()
        return [json.loads(x) for x in lines if x.endswith("\n")]

    def _replay_scans(self) -> dict:
        """Replay each scan the op's workers pushed through the matching
        Backend's ``query_arrow_batches``: the remote engine's own time and
        the rows it ships to Spark."""
        from datafusion_table_providers_spark.sources.backends import (
            DuckDBBackend,
            SQLiteBackend,
        )

        remote_s, shipped, scans = 0.0, 0, self._new_scans()
        for s in scans:
            if s["kind"] == "sqlite":
                backend = SQLiteBackend(s["path"])
            else:
                backend = DuckDBBackend(
                    s["path"],
                    read_only=s["path"] != ":memory:",
                    settings=s.get("settings"),
                    parquet_tables=s.get("parquet_tables"),
                )
            try:
                backend.query_arrow("SELECT 1")  # connect outside the timing
                t0 = time.perf_counter()
                for batch in backend.query_arrow_batches(s["sql"]):
                    shipped += batch.num_rows
                remote_s += time.perf_counter() - t0
            finally:
                if isinstance(backend, DuckDBBackend):
                    backend.close()
        self._op["scans"] = [s["sql"] for s in scans]
        return {
            "sources.scans": len(scans),
            "sources.remote_s": remote_s,
            "sources.rows_shipped": shipped,
        }

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"summary": summary, "ops": self.spans}, f, indent=1,
                      default=str)


_FINAL = re.compile(r"== Final Plan ==(.*?)(== Initial Plan ==|$)", re.S)


def plan_counts(df) -> dict:
    """Shuffle and broadcast exchanges in the executed (AQE-final) plan."""
    if df is None or not hasattr(df, "_jdf"):
        return {"plan.exchanges": 0, "plan.broadcasts": 0}
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = _FINAL.search(plan)
    if m:
        plan = m.group(1)
    return {
        "plan.exchanges": len(re.findall(r"\bExchange\b", plan)),
        "plan.broadcasts": len(re.findall(r"\bBroadcastExchange\b", plan)),
    }
