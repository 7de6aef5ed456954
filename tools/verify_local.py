"""Local stand-in for the driver's t2 correctness gate.

Runs every `__spark_entry__.queries()` entry at the given SF and compares
row-count + order-insensitive canonicalized values against the matching
`oracle_sql()` run through DuckDB on the same parquet tables.

Usage: python tools/verify_local.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import datetime as dt
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# VERIFY_STRICT=1 → compare float values bit-exactly (repr of the raw double)
# instead of rounding to 9 dp. The driver's hash is stricter than the default
# here (it caught e04 in r1 where this comparator passed), so strict mode is
# the honest preflight for float-bearing queries.
STRICT = os.environ.get("VERIFY_STRICT", "") == "1"


def canon(v, strict: bool = STRICT):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if strict:
            return repr(v)
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x, strict) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def rows_key(cols, rows, strict: bool = STRICT):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i], strict) for i in order) for r in rows)


def oracle_connection(sf_dir: str):
    """An in-memory DuckDB connection with one view per parquet table of
    ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare_entry(spark, con, fn, sql, sf_dir: str, strict: bool = STRICT):
    """(verdict, detail) of one registry entry ``fn`` against its oracle
    ``sql`` on ``con``. The verdict is PASS, FAIL or SKIP (no oracle); a
    value mismatch's detail ends with the first differing row of each
    side."""
    try:
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
    except Exception as e:
        return "FAIL", f"spark error: {type(e).__name__}: {e}"
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
    sk = rows_key(scols, [[r[c] for c in scols] for r in srows], strict)
    ok = rows_key(ocols, orows, strict)
    diff = [(a, b) for a, b in zip(sk, ok) if a != b]
    if diff:
        a, b = diff[0]
        return "FAIL", (
            f"value mismatch ({len(diff)}/{len(sk)} rows differ)"
            f"\n  spark : {a}\n  oracle: {b}"
        )
    return "PASS", f"{len(srows)} rows"


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
        t0 = time.time()
        verdict, detail = compare_entry(spark, con, fn, oracles.get(name), sf_dir)
        counts[verdict] += 1
        print(f"{verdict} {name}: {detail}  [{time.time()-t0:.1f}s]")

    print(f"\n{counts['PASS']} passed, {counts['FAIL']} failed, "
          f"{counts['SKIP']} rows-only")
    return 1 if counts["FAIL"] else 0


if __name__ == "__main__":
    sys.exit(main())
