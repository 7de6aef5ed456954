"""Session-scoped memoization for heavy, immutable-input artifacts.

The registry recomputes several small derived tables identically across
rows in one driver run (MinHash signatures, duplicate-cluster labels, the
Lloyd's assignment, PQ codes). Each builder ``f(spark, sf_dir)`` that
makes one is decorated with :func:`memo_artifact`, which owns the key
``(applicationId, normalized sf_dir)``, the cache and the check-then-store
steps: the first call per key runs the builder, later calls return the
same object without running a Spark job. The lineage cut stays inside the
builder (its own ``localCheckpoint(eager=True)`` line).

The counts that data-dependent plan choices need are memoized the same
way, and none of them runs a Spark job of its own (``llm/dedup.py``):

- the corpus size (``_doc_count``) is summed from the parquet footers on
  the driver (only a path the driver cannot list is counted by Spark).
  The documents DataFrame is memoized with it and read with the schema
  of the same footers, so one build reads the table once and runs no
  schema-inference job for it;
- the number of text groups (``_rep_count``) is a ``pyspark.sql.Observation``
  on the group map, filled by the map's own eager localCheckpoint.

Operational contract (know before reusing the pattern):
- localCheckpoint blocks are NON-RECOVERABLE: after an executor loss the
  cached DataFrame is permanently broken for the rest of the session. A
  long-lived production driver should call :func:`clear_memo_caches` from
  its failure handler (or use reliable ``checkpoint()`` to a replicated
  store instead); the correctness-gate profile — one short-lived driver,
  immutable testdata — is exactly where the memo is safe and pays.
- blocks are never evicted: a driver sweeping many sf_dirs accumulates
  one small artifact set per dir. ``clear_memo_caches()`` drops them all.
"""

from __future__ import annotations

import functools
import os
from typing import Callable, List

#: every memoized builder, for clear_memo_caches() (each carries ``.cache``)
MEMO_BUILDERS: List[Callable] = []


def memo_artifact(build: Callable) -> Callable:
    """Memoize ``build(spark, sf_dir)`` per (session, normalized sf_dir)."""
    cache: dict = {}

    @functools.wraps(build)
    def get(spark, sf_dir):
        key = (spark.sparkContext.applicationId, os.path.normpath(sf_dir))
        if key not in cache:
            cache[key] = build(spark, sf_dir)
        return cache[key]

    get.cache = cache
    MEMO_BUILDERS.append(get)
    return get


def clear_memo_caches() -> int:
    """Drop every memoized artifact (e.g. after an executor loss made the
    checkpointed blocks unrecoverable). Returns the number of entries
    dropped; the next caller recomputes from the source tables."""
    n = 0
    for b in MEMO_BUILDERS:
        n += len(b.cache)
        b.cache.clear()
    return n
