"""The benchmark's workloads: op mixes called through the package's public
entry points.

Every op has two phases, timed together as its latency: ``build`` (driver-
side construction, including any eager jobs it runs) and ``act`` (the
materializing action). ``check`` compares the result with what the inputs
imply and returns an error message or None.

- connector_io: connector registry ops (``FULL_SUITE[name].fn`` then
  ``collect()``, checked by row count + digest, check.py) mixed with
  ``write.writer`` steps into file DuckDB and SQLite and a connector
  read-back (checked by the row counts the seeded write keys imply).
- dedup_curation: dedup / curation registry ops, same protocol as the
  connector registry ops.
"""

from __future__ import annotations

import os
import random
import shutil
from typing import Any, Callable, List, Optional

import numpy as np
import pyarrow.parquet as pq

from perfbench.check import digest

#: the input data set (a directory under ``data/``) each workload reads at
#: each scale. ``full`` is what the benchmark measures; ``tiny`` is the
#: test scale.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SCALES = {
    "full": {"connector_io": "sf0.1", "dedup_curation": "sf0.01"},
    "tiny": {"connector_io": "sf0.001", "dedup_curation": "sf0.001"},
}

#: c02b runs c02 (DuckDB range slices) and c10 (Flight endpoints) and unions
#: them, so c02 is not listed on its own; c09 (DB-API over sqlite3) reads
#: through the same DBAPIReader as c12, and the write steps cover its SQLite
#: insert and read-back
READ_OPS = [
    "c01_duckdb_scan_pushdown",
    "c02b_partitioned_scans",
    "c03_federation_pushdown",
    "c12_adbc_scan",
    "c15_runtime_filter_scan",
]
#: two near-duplicate pair finders and a decontamination pass; d35, which
#: unions the d02b / d03b / d04 builders in one op, is left out so each
#: builder has its own median
DEDUP_OPS = [
    "d02b_minhash_lsh_pairs",
    "d03b_simhash_pairs",
    "d26_fuzzy_decontaminate",
]

#: the write steps take this many orders, those with the lowest keys
WRITE_ROWS = 20_000
#: o_orderpriority values the upsert wave and the UPDATE steps write
UPSERTED, UPDATED = "0-UPSERTED", "0-UPDATED"


#: the registry ops each workload runs
WORKLOAD_OPS = {"connector_io": READ_OPS, "dedup_curation": DEDUP_OPS}


class Op:
    """One timed call. ``kind`` names the write transport for write steps
    (the per-layer rows/s metrics key on it) and is "query" otherwise."""

    def __init__(
        self,
        name: str,
        build: Callable[[], Any],
        act: Callable[[Any], Any],
        check: Callable[[Any], Optional[str]],
        kind: str = "query",
    ):
        self.name, self.build, self.act, self.check, self.kind = (
            name, build, act, check, kind,
        )


def registry_op(spark, data_dir: str, name: str, expected: dict) -> Op:
    from datafusion_table_providers_spark.suite import FULL_SUITE

    case = FULL_SUITE[name]

    def act(df):
        return df.columns, df.collect()

    def check(result) -> Optional[str]:
        cols, rows = result
        want = expected[name]
        if len(rows) != want["rows"]:
            return f"{name}: {len(rows)} rows, expected {want['rows']}"
        got = digest(cols, rows)
        if got != want["digest"]:
            return f"{name}: digest {got}, expected {want['digest']}"
        return None

    return Op(name, lambda: case.fn(spark, data_dir), act, check)


class Workload:
    """Yields the op list of each cycle; the seed fixes op order and write
    keys. ``probes`` are calls run after each whole cycle, outside the
    timed mix, whose outcome is reported but not timed (known defects).
    ``WARMUP_CYCLES`` untimed cycles run before the first timed one."""

    WARMUP_CYCLES = 1

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int,
                 expected: dict):
        self.spark, self.data_dir, self.work_dir = spark, data_dir, work_dir
        self.rng = random.Random(seed)
        self.expected = expected

    def names(self) -> List[str]:
        raise NotImplementedError

    def cycle(self, i: int) -> List[Op]:
        raise NotImplementedError

    def probes(self, i: int) -> List[Op]:
        return []

    def end_cycle(self, i: int) -> None:
        pass

    def _registry(self, names) -> List[Op]:
        return [registry_op(self.spark, self.data_dir, n, self.expected)
                for n in names]


class DedupCuration(Workload):
    def names(self):
        return list(DEDUP_OPS)

    def cycle(self, i):
        names = list(DEDUP_OPS)
        self.rng.shuffle(names)
        return self._registry(names)


def _count_check(what: str, want: int,
                 sink=None) -> Callable[[Any], Optional[str]]:
    """The count a step returned must be ``want``. ``sink`` is an optional
    (backend, COUNT(*) query, expected count) read back from the sink
    table after the step, so rows lost in the sink fail the check too."""
    def check(got) -> Optional[str]:
        if int(got) != want:
            return f"{what}: {got} rows, expected {want}"
        if sink is not None:
            backend, sql, stored_want = sink
            stored = backend.query_arrow(sql).column(0)[0].as_py()
            if stored != stored_want:
                return (f"{what}: sink holds {stored} rows, "
                        f"expected {stored_want}")
        return None

    return check


class ConnectorIO(Workload):
    """One cycle: the connector read ops and four transport inserts of the
    ``WRITE_ROWS`` orders with the lowest keys, in seeded order; then, on a
    primary-key DuckDB table, an append, an upsert wave and a DELETE; an
    UPDATE on the no-PK table; and read-backs through the DuckDB and SQLite
    readers. Every write step is checked by the count it returns and by a
    COUNT(*) read back from its sink table.

    The UPDATE on the primary-key table is a probe: DuckDB 1.0 rejects
    ``UPDATE … RETURNING`` on any table with a primary key, so
    ``writer.update`` fails there."""

    TRANSPORTS = ["duckdb_arrow", "duckdb_spool", "sqlite_loop",
                  "sqlite_staged"]
    STEPS = ["pk_append", "pk_upsert", "pk_delete", "update", "read_duckdb",
             "read_sqlite"]

    def names(self):
        return READ_OPS + self.TRANSPORTS + self.STEPS

    def cycle(self, i):
        from pyspark.sql import functions as F

        from datafusion_table_providers_spark.sources.backends import (
            DuckDBBackend,
            SQLiteBackend,
        )
        from datafusion_table_providers_spark.sources.duckdb_source import (
            duckdb_reader_df,
        )
        from datafusion_table_providers_spark.sources.sqlite_source import (
            sqlite_reader_df,
        )
        from datafusion_table_providers_spark.write import writer
        from datafusion_table_providers_spark.write.on_conflict import (
            OnConflict,
        )

        spark = self.spark
        self._dir = os.path.join(self.work_dir, f"cycle{i}")
        os.makedirs(self._dir, exist_ok=True)
        duck_path = os.path.join(self._dir, "w.duckdb")
        duck = DuckDBBackend(duck_path)
        lite = SQLiteBackend(os.path.join(self._dir, "w.sqlite"))
        orders_path = os.path.join(self.data_dir, "orders.parquet")
        k, limit = self._keys(orders_path)
        n = len(k)

        def orders(cond: str = "TRUE"):
            return spark.read.parquet(orders_path).filter(
                f"o_orderkey < {limit} AND ({cond})")

        # seeded residues: PK rows k%2==a, upsert wave k%3==b, DELETE
        # k%7==d, UPDATE k%5==e
        a, b, d, e = (self.rng.randrange(m) for m in (2, 3, 7, 5))
        in_pk = (k % 2 == a) | (k % 3 == b)
        deleted = in_pk & (k % 7 == d)
        kept = int((in_pk & ~deleted).sum())
        self._duck = duck
        self._probe = (e, int((in_pk & ~deleted & (k % 5 == e)).sum()))

        def rows(backend, table, want, where="TRUE"):
            return (backend, f"SELECT COUNT(*) FROM {table} WHERE {where}",
                    want)

        def insert(name, table, via, backend):
            return Op(name, orders,
                      lambda df: writer.insert_into(backend, table, df,
                                                    via=via),
                      _count_check(name, n, rows(backend, table, n)), name)

        mixed = self._registry(READ_OPS) + [
            insert("duckdb_arrow", "o_arrow", "arrow", duck),
            insert("duckdb_spool", "o_spool", "spool", duck),
            insert("sqlite_loop", "o_loop", "loop", lite),
            insert("sqlite_staged", "o_staged", "staged", lite),
        ]
        self.rng.shuffle(mixed)

        def upsert(df):
            return writer.insert_into(
                duck, "o_pk", df, primary_keys=["o_orderkey"],
                on_conflict=OnConflict.upsert(["o_orderkey"]),
            )

        def read_duckdb(_):
            duck.close()  # release the RW lock: executors open read-only
            return duckdb_reader_df(
                spark, DuckDBBackend(duck_path), "o_pk").count()

        n_upsert = int((k % 3 == b).sum())
        n_update = int((k % 5 == e).sum())
        return mixed + [
            Op("pk_append", lambda: orders(f"o_orderkey % 2 = {a}"),
               lambda df: writer.insert_into(duck, "o_pk", df,
                                             primary_keys=["o_orderkey"]),
               _count_check("pk_append", int((k % 2 == a).sum()),
                            rows(duck, "o_pk", int((k % 2 == a).sum())))),
            # the wave marks its rows, so an upsert that keeps the old rows
            # fails the check
            Op("pk_upsert",
               lambda: orders(f"o_orderkey % 3 = {b}").withColumn(
                   "o_orderpriority", F.lit(UPSERTED)),
               upsert,
               _count_check("pk_upsert", n_upsert,
                            rows(duck, "o_pk", n_upsert,
                                 f"o_orderpriority = '{UPSERTED}'"))),
            Op("pk_delete", lambda: None,
               lambda _: writer.delete_from(duck, "o_pk",
                                            f"o_orderkey % 7 = {d}"),
               _count_check("pk_delete", int(deleted.sum()),
                            rows(duck, "o_pk", kept))),
            Op("update", lambda: None,
               lambda _: writer.update(duck, "o_arrow",
                                       {"o_orderpriority": f"'{UPDATED}'"},
                                       f"o_orderkey % 5 = {e}"),
               _count_check("update", n_update,
                            rows(duck, "o_arrow", n_update,
                                 f"o_orderkey % 5 = {e} AND "
                                 f"o_orderpriority = '{UPDATED}'"))),
            Op("read_duckdb", lambda: None, read_duckdb,
               _count_check("read_duckdb", kept)),
            Op("read_sqlite", lambda: None,
               lambda _: sqlite_reader_df(spark, lite, "o_staged").count(),
               _count_check("read_sqlite", n)),
        ]

    def _keys(self, orders_path: str):
        """The order keys the write steps take (the ``WRITE_ROWS`` lowest)
        and the exclusive key limit that selects them."""
        if not hasattr(self, "_write_keys"):
            keys = np.sort(pq.read_table(
                orders_path, columns=["o_orderkey"]).column(0).to_numpy())
            limit = (int(keys[WRITE_ROWS]) if len(keys) > WRITE_ROWS
                     else int(keys[-1]) + 1)
            self._write_keys = (keys[keys < limit], limit)
        return self._write_keys

    def probes(self, i):
        from datafusion_table_providers_spark.write import writer

        e, want = self._probe
        return [Op(
            "pk_update", lambda: None,
            lambda _: writer.update(self._duck, "o_pk",
                                    {"o_orderpriority": f"'{UPDATED}'"},
                                    f"o_orderkey % 5 = {e}"),
            _count_check("pk_update", want,
                         (self._duck,
                          f"SELECT COUNT(*) FROM o_pk WHERE o_orderkey % 5 = "
                          f"{e} AND o_orderpriority = '{UPDATED}'", want)),
        )]

    def end_cycle(self, i):
        self._duck.close()
        shutil.rmtree(self._dir, ignore_errors=True)


WORKLOADS = {
    "connector_io": ConnectorIO,
    "dedup_curation": DedupCuration,
}
