"""Cycle benchmark: federated reads, dedup curation and connector writes.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
        [--cycles N] [--scale full|tiny] [--expected PATH]

One driver process, one client, closed loop: start Spark on
``local[<cpus>]`` through the package's ``get_spark``, run the workload's
op mix over its fixed input data set (``data/``) untimed (warm-up), then
run whole timed cycles of the mix (op order shuffled per cycle by the seed):
at least ``MIN_CYCLES``, and another one while less than ``--seconds``
have passed since the first timed op. ``--cycles`` fixes the number of
timed cycles instead. Every timed op's output is checked.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0`` and
the per-layer metrics with ``--trace 1`` (see README.md). A traced run
alternates traced and untraced cycles (scan logging is off in the untraced
ones), so it also reports its own tracing overhead, and writes its spans
to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Fixed run environment, identical for every run of every commit.
CPUS = len(os.sched_getaffinity(0))
DRIVER_MEM = "1g"
#: a run ends its timed loop by this many seconds after process start
HARD_STOP_S = 150.0
#: timed cycles a run makes at least (a traced run alternates traced and
#: untraced ones, so it needs two as well)
MIN_CYCLES = 2

END_TO_END = {
    "cycle_s": "s",
    "setup_s": "s",
    "driver_peak_rss_mb": "MB",
    "jvm_peak_rss_mb": "MB",
}
#: per-op counters summed over a traced cycle
SUMMED = [
    "build.s", "build.jobs", "build.checkpoints", "memo.entries",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.executor_run_s", "exec.shuffle_write_mb", "exec.spill_mb",
    "jvm.gc_s", "plan.exchanges", "plan.broadcasts",
    "sources.remote_s", "sources.rows_shipped",
    "dynamic_filter.s", "engine.federate_s",
    "write.constraint_s", "write.dml_s",
    "backends.calls", "backends.s",
]
TRANSPORTS = ["duckdb_arrow", "duckdb_spool", "sqlite_loop", "sqlite_staged"]
PER_LAYER = {
    **{k: ("count" if k.endswith(("jobs", "checkpoints", "entries", "stages",
                                  "tasks", "exchanges", "broadcasts",
                                  "calls", "shipped"))
           else "MB" if k.endswith("_mb") else "s") for k in SUMMED},
    "exec.task_skew": "x",
    "sources.transfer_s": "s",
    "sources.ship_ratio": "x",
    **{f"write.{t}.rows_per_s": "rows/s" for t in TRANSPORTS},
    "tmp.mb_left": "MB",
    "fail_frac": "ratio",
    "write.pk_update_probes": "count",
    "write.pk_update_failed": "count",
    "tail_ratio": "x",
    "tail_samples": "count",
    "trace.cycle_s": "s",
    "trace.overhead_s": "s",
}


def process_start() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(x.split()[1]) for x in f if x.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except FileNotFoundError:
                pass
    return total / (1024.0 * 1024.0)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(x.split()[1]) for x in f if x.startswith("VmHWM"))
    return kb / 1024.0


def median_cycle(samples: dict) -> float:
    """Sum over ops of each op's median latency."""
    return sum(statistics.median(v) for v in samples.values() if v)


def tail(samples: dict):
    """Across all timed ops, latency / that op's own median: the highest
    percentile with at least ten samples beyond it, or the maximum when a
    run has fewer than twenty samples. Returns (ratio, sample count)."""
    ratios = sorted(
        x / statistics.median(v) for v in samples.values() if v for x in v
    )
    n = len(ratios)
    if n == 0:
        return 1.0, 0
    if n < 20:
        return ratios[-1], n
    return ratios[int((1.0 - 10.0 / n) * (n - 1))], n


class Runner:
    def __init__(self, args, t_proc: float):
        self.args, self.t_proc = args, t_proc
        tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.run_dir = os.path.join(ROOT, ".perfbench_work", tag)
        self.dirs = {
            k: os.path.join(self.run_dir, k)
            for k in ("tmp", "spark_local", "work")
        }
        self.samples = {}      # untraced op latencies
        self.traced = {}       # traced op latencies
        self.records = []      # (cycle, op name, kind, latency, rows, rec)
        self.tmp_growth = []
        self.attempted = self.failed = 0
        self.probes = self.probes_failed = 0
        self.errors = []

    def environment(self) -> None:
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        path = [ROOT]
        if self.args.trace:
            path.append(os.path.join(HERE, "hook"))
            os.environ["PERFBENCH_SCAN_LOG"] = os.path.join(
                self.run_dir, "scans.jsonl")
        os.environ.update({
            "PYTHONPATH": os.pathsep.join(path),
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "TMPDIR": self.dirs["tmp"],
            "SPARK_LOCAL_DIRS": self.dirs["spark_local"],
            "PYSPARK_PYTHON": sys.executable,
            # the JVM's own temp files (native libraries, artifacts) go to
            # the run directory too; no hsperfdata file in the system tmp
            "PYSPARK_SUBMIT_ARGS": " ".join([
                "--conf spark.ui.showConsoleProgress=false",
                "--driver-java-options",
                shlex.quote(f"-Djava.io.tmpdir={self.dirs['tmp']} "
                            "-XX:-UsePerfData"),
                "pyspark-shell",
            ]),
        })
        tempfile.tempdir = None  # re-read TMPDIR
        sys.path.insert(0, ROOT)

    def run(self) -> None:
        from datafusion_table_providers_spark.core.memo import (
            clear_memo_caches,
        )
        from datafusion_table_providers_spark.session import get_spark

        from perfbench.check import load_expected
        from perfbench.workloads import DATA_DIR, SCALES, WORKLOADS

        args = self.args
        self.clear_memo = clear_memo_caches
        dataset = SCALES[args.scale][args.workload]
        expected = load_expected(args.expected)[dataset]
        spark = get_spark("perfbench")
        self.spark = spark
        spark.sparkContext.setLogLevel("ERROR")
        self.tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            self.tracer = Tracer(spark, os.environ["PERFBENCH_SCAN_LOG"])
            self.tracer.install()
        wl = WORKLOADS[args.workload](
            spark, os.path.join(DATA_DIR, dataset), self.dirs["work"],
            args.seed, expected,
        )
        self.names = wl.names()
        self.warm = {}
        for w in range(wl.WARMUP_CYCLES):
            for op in wl.cycle(-1 - w):
                lat, _, err, _ = self.run_op(op, -1 - w, traced=False)
                self.warm.setdefault(op.name, []).append(lat)
                if err:
                    self.errors.append(f"warm-up {err}")
            wl.end_cycle(-1 - w)
        self.t_first = time.time()
        deadline = self.t_first + args.seconds
        stop_at = self.t_proc + HARD_STOP_S
        flip = args.seed % 2 == 1 and args.cycles != 1

        def more(i: int) -> bool:
            """Start timed cycle ``i``? Only whole cycles are timed, so
            every op has the same number of samples: at least
            ``MIN_CYCLES`` (a median needs more than one), then one more
            while the deadline has not passed."""
            if args.cycles is not None:
                return i < args.cycles
            return i < MIN_CYCLES or time.time() < deadline

        i = 0
        while more(i) and time.time() < stop_at:
            # traced and untraced cycles alternate in pairs whose order
            # flips (T U U T T U ...), starting with an untraced cycle on
            # odd seeds, so neither kind always runs first
            traced = bool(args.trace) and (i % 4 in (0, 3)) != flip
            if self.tracer:
                self.tracer.on = traced
            mb0 = dir_mb(self.dirs["tmp"])
            ops = wl.cycle(i)
            done = 0
            for op in ops:
                if time.time() > stop_at:
                    break
                self.timed(op, i, traced)
                done += 1
            if done == len(ops):
                for probe in wl.probes(i):
                    self.probe(probe, i, traced)
            wl.end_cycle(i)
            if self.tracer:
                self.tracer.on = False
            if traced:
                self.tmp_growth.append(dir_mb(self.dirs["tmp"]) - mb0)
            i += 1
            if done < len(ops):
                break
        self.cycles = i
        self.jvm_mb = jvm_peak_rss_mb(spark)

    def run_op(self, op, cycle: int, traced: bool):
        """Untimed memo clear + GC, then the op's build and action timed
        together, then its check. Returns (latency, result, error, the
        traced per-layer record or None).

        The JVM is collected too: each op then starts from a compacted heap
        instead of paying for the garbage of the one before, and Spark's
        ContextCleaner (driven by JVM GC) drops the previous op's shuffle
        files, broadcasts and checkpoint blocks."""
        self.clear_memo()
        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        tr = self.tracer if traced else None
        if tr:
            tr.begin_op(op.name, cycle)
        handle = result = None
        err = None
        t0 = time.perf_counter()
        try:
            with (tr.phase("build") if tr else nullcontext()):
                handle = op.build()
            with (tr.phase("exec") if tr else nullcontext()):
                result = op.act(handle)
            lat = time.perf_counter() - t0
            with (tr.paused() if tr else nullcontext()):
                err = op.check(result)
        except Exception as e:  # noqa: BLE001 — a failed op is counted
            lat = time.perf_counter() - t0
            err = f"{op.name}: {type(e).__name__}: {str(e)[:300]}"
        rec = tr.end_op(handle, self.clear_memo()) if tr else None
        return lat, result, err, rec

    def timed(self, op, cycle: int, traced: bool) -> None:
        """A timed op: failed ones count in ``failed`` and stay out of the
        medians; their traced layer figures still count."""
        lat, result, err, rec = self.run_op(op, cycle, traced)
        self.attempted += 1
        rows = 0 if err else _rows(result)
        if rec is not None:
            self.records.append((op.kind, lat, rows, rec))
        if err:
            self.failed += 1
            self.errors.append(f"cycle {cycle}: {err}")
            return
        (self.traced if traced else self.samples).setdefault(
            op.name, []).append(lat)

    def probe(self, op, cycle: int, traced: bool) -> None:
        _, _, err, _ = self.run_op(op, cycle, traced)
        self.probes += 1
        if err:
            self.probes_failed += 1
            self.errors.append(f"cycle {cycle} probe (known defect): {err}")

    # -- results -----------------------------------------------------------
    def end_to_end(self) -> dict:
        return {
            "cycle_s": median_cycle(self.samples),
            "setup_s": self.t_first - self.t_proc,
            "driver_peak_rss_mb":
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "jvm_peak_rss_mb": self.jvm_mb,
        }

    def per_layer(self) -> dict:
        by_cycle = {}
        for kind, lat, rows, rec in self.records:
            by_cycle.setdefault(rec["cycle"], []).append((kind, lat, rows, rec))
        per_cycle = []
        for ops in by_cycle.values():
            m = {k: sum(r[k] for *_, r in ops) for k in SUMMED}
            m["exec.task_skew"] = max(r["exec.task_skew"] for *_, r in ops)
            scans = [(rows, r) for _, _, rows, r in ops if r["sources.scans"]]
            m["sources.transfer_s"] = sum(
                r["exec.s"] - r["sources.remote_s"] for _, r in scans)
            m["sources.ship_ratio"] = (
                sum(r["sources.rows_shipped"] for _, r in scans)
                / max(1, sum(rows for rows, _ in scans))
            )
            for t in TRANSPORTS:
                m[f"write.{t}.rows_per_s"] = sum(
                    rows / lat for kind, lat, rows, _ in ops if kind == t)
            per_cycle.append(m)
        out = {k: statistics.median(c[k] for c in per_cycle)
               for k in (per_cycle[0] if per_cycle else ())}
        out["tmp.mb_left"] = (statistics.median(self.tmp_growth)
                              if self.tmp_growth else 0.0)
        total = self.attempted + self.probes
        out["fail_frac"] = ((self.failed + self.probes_failed) / total
                            if total else 0.0)
        out["write.pk_update_probes"] = self.probes
        out["write.pk_update_failed"] = self.probes_failed
        everything = {k: self.samples.get(k, []) + self.traced.get(k, [])
                      for k in set(self.samples) | set(self.traced)}
        out["tail_ratio"], out["tail_samples"] = tail(everything)
        out["trace.cycle_s"] = median_cycle(self.traced)
        out["trace.overhead_s"] = (
            out["trace.cycle_s"] - median_cycle(self.samples)
            if self.samples else 0.0
        )
        return {k: out.get(k, 0.0) for k in PER_LAYER}

    def report(self) -> None:
        """Human-readable run summary on stderr."""
        def fmt(v):
            return ",".join(f"{x:.2f}" for x in v)

        p = lambda *a: print(*a, file=sys.stderr)  # noqa: E731
        p(f"# {self.args.workload} seed={self.args.seed} "
          f"cpus={CPUS} mem={DRIVER_MEM} cycles={self.cycles} "
          f"setup={self.t_first - self.t_proc:.2f}s")
        for name in self.names:
            p(f"#   {name}: warm-up [{fmt(self.warm.get(name, []))}] "
              f"untraced [{fmt(self.samples.get(name, []))}] "
              f"traced [{fmt(self.traced.get(name, []))}]")
        for e in self.errors:
            p(f"# ERROR {e}")

    def close(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is not None:
            gw = spark.sparkContext._gateway
            spark.stop()
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — last resort
                    proc.kill()
                    proc.wait()
        for k in ("tmp", "spark_local", "work"):
            shutil.rmtree(self.dirs[k], ignore_errors=True)


def _rows(result) -> int:
    """Rows an op produced: collected rows, or the count a step returned."""
    return len(result[1]) if isinstance(result, tuple) else int(result)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["connector_io", "dedup_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cycles", type=int, default=None)
    ap.add_argument("--scale", default="full", choices=["full", "tiny"])
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.json"))
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_proc = process_start()
    args = parse(argv)
    runner = Runner(args, t_proc)
    runner.environment()
    try:
        runner.run()
        if args.trace:
            metrics, units = runner.per_layer(), PER_LAYER
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            runner.tracer.write(
                os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json"),
                metrics,
            )
        else:
            metrics, units = runner.end_to_end(), END_TO_END
        runner.report()
    finally:
        runner.close()
        shutil.rmtree(runner.run_dir, ignore_errors=True)
    every_op_ran = all(
        runner.samples.get(n) or runner.traced.get(n) for n in runner.names
    )
    print(json.dumps({
        "correct": runner.failed == 0 and every_op_ran,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
