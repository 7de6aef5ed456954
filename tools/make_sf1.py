"""Synthesize an sf1 decade for the registry sweep (tools/verify_local.py).

The driver ships testdata only up to sf0.1; one more decade is needed to
separate output-growth from algorithmic growth on the mildly super-linear
curves (d13/d22/d25). sf1 is sf0.1 unioned 10× with disjoint id offsets
(doc_id / vec_id / event_id / user_id): content is replicated verbatim, so
ops keyed on content (dedup families) see a 10×-duplication workload — the
sweep records output rows alongside wall-clock so cost-per-output-row
stays interpretable.

Only the three tables the LLM and streaming families read (documents,
embeddings, events) are synthesized. Output: ``<out_dir>/*.parquet``
(``.sf1`` in the repo by default; the source testdata is left untouched).
DuckDB does the union + rewrite in one statement per table; ~1M events rows
total, seconds of work.
"""

from __future__ import annotations

import os

import duckdb

SRC = "/root/testdata/sf0.1"
OFFSET = 10_000_000

OFFSET_COLS = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    # user_id offsets too: per-user event density stays constant across
    # decades (otherwise windows/sessionization state per key grows 10×,
    # which would probe a different workload, not a bigger one)
    "events": ["event_id", "user_id"],
}


def main(out_dir: str = "/root/repo/.sf1") -> str:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for table, id_cols in OFFSET_COLS.items():
        src = os.path.join(SRC, f"{table}.parquet")
        dst = os.path.join(out_dir, f"{table}.parquet")
        if os.path.exists(dst):
            continue
        repl = ", ".join(
            f"{c} + r.k * {OFFSET} AS {c}" for c in id_cols
        )
        con.execute(
            f"COPY (SELECT * REPLACE ({repl}) "
            f"FROM read_parquet('{src}') "
            f"CROSS JOIN (SELECT unnest(range(10)) AS k) r) "
            f"TO '{dst}' (FORMAT parquet)"
        )
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{dst}')"
        ).fetchone()[0]
        print(f"{table}: {n} rows -> {dst}")
    return out_dir


if __name__ == "__main__":
    main()
