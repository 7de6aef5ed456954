"""The registry sweep: the strict DuckDB oracle plus a per-layer record for
every entry.

Runs every `__spark_entry__.queries()` entry at the given SF and compares
row count + order-insensitive canonicalized values, floats bit-exactly,
against the matching `oracle_sql()` run through DuckDB on the same parquet
tables. Each entry is built and collected under job groups of their own,
with the memo cleared first, and prints one JSON line: its verdict, build
and execute seconds and jobs, the execute phase's stages, tasks, shuffle
writes, spill and longest stage's task run time (monitoring REST API), and
the executed plan's exchange, broadcast and checkpointed-scan counts. The
pass/fail summary goes to stderr.

Usage: python tools/verify_local.py [sf_dir] [--window | name_filter...]
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import re
import sys
import time
import urllib.request
from contextlib import contextmanager
from types import SimpleNamespace

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def oracle_connection(sf_dir: str):
    """An in-memory DuckDB connection with one view per parquet table of
    ``sf_dir``. Its memory and spill are capped, so an oracle too big for
    the host (the doc-pair oracles of the dedup family at synthesized sf1)
    fails with DuckDB's out-of-memory error instead of filling the disk."""
    con = duckdb.connect()
    # SET, not connect(config=...): the config form leaves the spill uncapped
    con.execute("SET memory_limit = '6GB'")
    con.execute("SET max_temp_directory_size = '6GB'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare_entry(spark, con, fn, sql, sf_dir: str):
    """(verdict, detail) of one registry entry ``fn`` against its oracle
    ``sql`` on ``con``. The verdict is PASS, FAIL or SKIP (no oracle); a
    value mismatch's detail ends with the first differing row of each
    side."""
    try:
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
    except Exception as e:
        return "FAIL", f"spark error: {type(e).__name__}: {e}"
    return compare_rows(con, sql, sdf.columns, srows)


def compare_rows(con, sql, scols, srows):
    """:func:`compare_entry`'s verdict for Spark's collected ``srows``."""
    if sql is None:
        return "SKIP", f"no oracle (rows-only): {len(srows)} rows"
    try:
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as e:
        return "FAIL", f"duckdb error: {type(e).__name__}: {e}"
    if sorted(scols) != sorted(ocols):
        return "FAIL", f"columns spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return "FAIL", f"rowcount spark={len(srows)} oracle={len(orows)}"
    sk = rows_key(scols, [[r[c] for c in scols] for r in srows])
    ok = rows_key(ocols, orows)
    diff = [(a, b) for a, b in zip(sk, ok) if a != b]
    if diff:
        a, b = diff[0]
        return "FAIL", (
            f"value mismatch ({len(diff)}/{len(sk)} rows differ)"
            f"\n  spark : {a}\n  oracle: {b}"
        )
    return "PASS", f"{len(srows)} rows"


@contextmanager
def job_group(spark):
    """Run the with-block under a Spark job group of its own. Yields a
    namespace whose ``jobs`` (ids of the jobs the block ran) and ``s``
    (its wall seconds) are filled in once the block exits."""
    sc = spark.sparkContext
    group = f"verify-{time.time_ns()}"
    out = SimpleNamespace(jobs=[], s=0.0)
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    try:
        yield out
    finally:
        out.s = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the status store is fed by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        out.jobs = sorted(sc.statusTracker().getJobIdsForGroup(group))


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def stage_figures(spark, job_ids) -> dict:
    """Completed stages, tasks, shuffle writes and spill of the jobs
    ``job_ids``, and the task run time max and median of their longest
    stage, from the monitoring REST API."""
    tracker = spark.sparkContext.statusTracker()
    stage_ids = sorted({
        sid for j in job_ids if (info := tracker.getJobInfo(j))
        for sid in info.stageIds
    })
    # a job lists the stages it reused from earlier jobs too, and the status
    # store may have dropped those already (spark.ui.retainedStages)
    stages = [
        a for sid in stage_ids if tracker.getStageInfo(sid)
        for a in _rest(spark, f"/stages/{sid}?details=false")
        if a["status"] == "COMPLETE"
    ]
    mb = 1024.0 * 1024.0
    med = top = 0.0
    if stages:
        s = max(stages, key=lambda s: s["executorRunTime"])
        med, top = _rest(
            spark,
            f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0",
        )["executorRunTime"]
    return {
        "exec.stages": len(stages),
        "exec.tasks": sum(s["numCompleteTasks"] for s in stages),
        "exec.shuffle_write_records": sum(s["shuffleWriteRecords"] for s in stages),
        "exec.shuffle_write_mb": round(sum(s["shuffleWriteBytes"] for s in stages) / mb, 3),
        "exec.spill_mb": round(sum(s["diskBytesSpilled"] for s in stages) / mb, 3),
        "exec.task_max_s": top / 1000.0,
        "exec.task_median_s": med / 1000.0,
    }


#: per-layer plan figure -> the operator it counts
PLAN_FIELDS = {
    "plan.exchanges": r"\bExchange\b",
    "plan.broadcasts": r"\bBroadcastExchange\b",
    "plan.checkpointed_scans": r"\bScan ExistingRDD\b",
}
_FINAL = re.compile(r"== Final Plan ==(.*?)(== Initial Plan ==|$)", re.S)


def plan_counts(df) -> dict:
    """Shuffle exchanges, broadcast exchanges and scans of checkpointed (or
    other in-memory RDD) data in ``df``'s executed (AQE-final) plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = _FINAL.search(plan)
    if m:
        plan = m.group(1)
    return {k: len(re.findall(p, plan)) for k, p in PLAN_FIELDS.items()}


def entry_record(spark, con, name, fn, sql, sf_dir: str) -> dict:
    """One registry entry's sweep record: :func:`compare_entry`'s verdict
    plus the layer figures of its build and collect. The figures are read
    from Spark's status store and plan, so the record runs no job of its
    own."""
    from datafusion_table_providers_spark.core.memo import clear_memo_caches

    clear_memo_caches()
    build = run = SimpleNamespace(jobs=[], s=0.0)
    plan = dict.fromkeys(PLAN_FIELDS, 0)
    try:
        with job_group(spark) as build:
            sdf = fn(spark, sf_dir)
        with job_group(spark) as run:
            srows = sdf.collect()
    except Exception as e:
        verdict, detail = "FAIL", f"spark error: {type(e).__name__}: {e}"
    else:
        verdict, detail = compare_rows(con, sql, sdf.columns, srows)
        plan = plan_counts(sdf)
    return {
        "name": name,
        "verdict": verdict,
        "detail": detail,
        "build.s": round(build.s, 3),
        "build.jobs": len(build.jobs),
        "exec.s": round(run.s, 3),
        "exec.jobs": len(run.jobs),
        **stage_figures(spark, run.jobs),
        **plan,
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    filters = sys.argv[2:]
    if filters == ["--window"]:
        # exactly the 50 entries the driver's correctness gate will check
        from datafusion_table_providers_spark.suite import PRIORITY_WINDOW

        filters = list(PRIORITY_WINDOW)

    import __spark_entry__ as entrymod

    if os.environ.get("VERIFY_VANILLA", "") == "1":
        # Mimic the driver: a bare session with NO engine tuning applied up
        # front — every queries() entry must self-provision its confs
        # (core.case.utc) or this run exposes the gap before the driver does.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("verify_vanilla")
            .getOrCreate()
        )
    else:
        from datafusion_table_providers_spark.session import get_spark

        spark = get_spark("verify_local")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = oracle_connection(sf_dir)

    counts = {"PASS": 0, "FAIL": 0, "SKIP": 0}
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        rec = entry_record(spark, con, name, fn, oracles.get(name), sf_dir)
        counts[rec["verdict"]] += 1
        print(json.dumps(rec), flush=True)

    print(f"\n{counts['PASS']} passed, {counts['FAIL']} failed, "
          f"{counts['SKIP']} rows-only", file=sys.stderr)
    return 1 if counts["FAIL"] else 0


if __name__ == "__main__":
    sys.exit(main())
