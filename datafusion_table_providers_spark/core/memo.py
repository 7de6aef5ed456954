"""Session-scoped memoization for heavy, immutable-input artifacts.

The registry recomputes several small derived tables identically across
rows in one driver run (MinHash signatures, duplicate-cluster labels, the
Lloyd's assignment, PQ codes). Each is memoized per
``(applicationId, normalized sf_dir)`` with the localCheckpoint inside the
shared builder.

The counts that data-dependent plan choices need are memoized the same
way, and none of them runs a Spark job of its own (``llm/dedup.py``):

- the corpus size (``_doc_count``) is summed from the parquet footers on
  the driver (only a path the driver cannot list is counted by Spark).
  The documents DataFrame is memoized with it and read with the schema
  of the same footers, so one build reads the table once and runs no
  schema-inference job for it;
- the number of text groups (``_rep_count``) is a ``pyspark.sql.Observation``
  on the group map, filled by the map's own eager localCheckpoint;
- d02b's candidate-pair count is an Observation on its candidate
  checkpoint. Its exact candidate-doc count runs as a job only when the
  ``2 × pairs`` bound cannot settle the semi-join gates.

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

import os
from typing import Dict, List

#: every registered memo dict, for clear_memo_caches()
_REGISTERED: List[Dict] = []


def register_cache(cache: Dict) -> Dict:
    _REGISTERED.append(cache)
    return cache


def memo_key(spark, sf_dir: str):
    return (spark.sparkContext.applicationId, os.path.normpath(sf_dir))


def clear_memo_caches() -> int:
    """Drop every memoized artifact (e.g. after an executor loss made the
    checkpointed blocks unrecoverable). Returns the number of entries
    dropped; the next caller recomputes from the source tables."""
    n = 0
    for c in _REGISTERED:
        n += len(c)
        c.clear()
    return n
