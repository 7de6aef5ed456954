"""Output checks: order-independent row digests with rounded floats.

A registry op passes when its collected rows have the stored row count and
digest (``expected.json``, computed from the op's DuckDB oracle SQL over the
data set the op reads under ``data/``). Column order does not matter (values are keyed by column
name) and neither does row order (canonical rows are sorted before hashing).
Floats are rounded to ``FLOAT_DP`` decimals so Spark's and DuckDB's last-bit
differences in aggregates do not flip the digest.

Usage: python3 perfbench/check.py   # recompute expected.json
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import sys

FLOAT_DP = 6
HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        r = round(f, FLOAT_DP)
        return repr(r + 0.0)  # +0.0 folds -0.0 into 0.0
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(columns, rows) -> str:
    """sha256 over the sorted canonical rows, columns ordered by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    h.update("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return h.hexdigest()[:32]


def load_expected(path: str = EXPECTED_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def oracle_digests(data_dir: str, names) -> dict:
    """{op: {"rows": n, "digest": d}} from each op's DuckDB oracle SQL."""
    import duckdb

    sys.path.insert(0, os.path.dirname(HERE))
    from datafusion_table_providers_spark.suite import FULL_SUITE

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, f)}')"
            )
    out = {}
    for name in names:
        res = con.execute(FULL_SUITE[name].oracle)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[name] = {"rows": len(rows), "digest": digest(cols, rows)}
    con.close()
    return out


def main() -> None:
    from perfbench.workloads import DATA_DIR, SCALES, WORKLOAD_OPS

    ops = {}
    for datasets in SCALES.values():
        for workload, dataset in datasets.items():
            ops.setdefault(dataset, []).extend(WORKLOAD_OPS[workload])
    expected = {d: oracle_digests(os.path.join(DATA_DIR, d), names)
                for d, names in sorted(ops.items())}
    with open(EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(expected, indent=1, sort_keys=True))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    main()
