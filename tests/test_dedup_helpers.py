"""The dedup family's shared pieces: the broadcast gate leaves only
output-bounded broadcasts when the cap is 0, every memoized builder returns
its artifact without a job on the second call, and LSH verification builds
each candidate's shingle-set intersection once."""

from __future__ import annotations

import re

import pytest

from datafusion_table_providers_spark.core.memo import (
    MEMO_BUILDERS,
    clear_memo_caches,
)
from datafusion_table_providers_spark.llm import dedup, similarity  # noqa: F401

from tests.conftest import SF_DIR
from tests.test_build_jobs import _with_jobs
from tests.test_r22_rewrites import _naive_d02b

_FINAL = re.compile(r"== Final Plan ==(.*?)(== Initial Plan ==|$)", re.S)


def _executed_plan(df) -> str:
    """The AQE-final physical plan of ``df`` after one collect()."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = _FINAL.search(plan)
    return m.group(1) if m else plan


def test_verify_pairs_intersects_once(spark):
    df = dedup.d02b_minhash_lsh_pairs(spark, SF_DIR)
    assert _executed_plan(df).count("array_intersect(") == 1
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, _naive_d02b(spark, SF_DIR).collect()))
    assert got == want and len(got) > 0


# Ungated broadcasts whose size is bounded by a cap on the output, not by
# a size estimate: name → pattern of the filter inside the broadcast side.
BROADCAST_ALLOWLIST = {
    # d04: shingles in more than FREQ_CAP docs, |common| <= Σ df / FREQ_CAP
    "d04.common": re.compile(r"\bdf#\d+L? > \d+\)"),
    # d22: blocks of more than D22_BLOCK_CAP docs, |bad| <= docs / cap
    "d22.bad": re.compile(r"\bbn#\d+L? > \d+\)"),
}


def _node_col(line: str) -> int:
    """Column where a plan-tree line's node name starts."""
    return len(line) - len(line.lstrip(" :+-"))


def _broadcast_sides(plan: str):
    """The subtree text under each BroadcastExchange of ``plan`` (a
    ReusedExchange line points back at one that is listed itself)."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line or "ReusedExchange" in line:
            continue
        col = _node_col(line)
        sub = [line]
        for nxt in lines[i + 1:]:
            if nxt.strip() and _node_col(nxt) <= col:
                break
            sub.append(nxt)
        yield "\n".join(sub)


@pytest.mark.parametrize(
    "op, sites",
    [
        (dedup.d02b_minhash_lsh_pairs, set()),
        (dedup.d03b_simhash_pairs, set()),
        (dedup.d04_ngram_jaccard, {"d04.common"}),
        (dedup.d22_editdist_neardup, {"d22.bad"}),
        (dedup.d26_fuzzy_decontaminate, set()),
        # d04's side runs inside d35's eager `small` checkpoint
        (dedup.d35_ensemble_neardup, set()),
    ],
    ids=lambda x: x.__name__.split("_")[0] if callable(x) else "",
)
def test_broadcasts_only_on_allowlist(spark, op, sites, monkeypatch):
    """With the gate's cap at 0 and Spark's own size-based broadcast off,
    a BroadcastExchange can only come from an ungated F.broadcast; every
    one left must be an allowlisted output-bounded site. sf0.001 has no
    shingle in more than 50 docs and no block of more than 1000, and an
    empty broadcast side is planned away, so both caps are lowered until
    the allowlisted sets are non-empty and their broadcasts show."""
    monkeypatch.setattr(dedup, "SEMIJOIN_MAX_BROADCAST_ROWS", 0)
    monkeypatch.setattr(dedup, "FREQ_CAP", 5)
    monkeypatch.setattr(dedup, "D22_BLOCK_CAP", 3)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        clear_memo_caches()
        df = op(spark, SF_DIR)
        plan = _executed_plan(df)
        assert df.count() > 0
    finally:
        spark.conf.set(key, old)
        clear_memo_caches()
    seen = set()
    for side in _broadcast_sides(plan):
        hits = {n for n, pat in BROADCAST_ALLOWLIST.items() if pat.search(side)}
        assert hits, f"{op.__name__}: broadcast not on the allowlist:\n{side}"
        seen |= hits
    assert seen == sites


def _canon(x):
    """Comparable form of a memoized artifact: DataFrames become sorted row
    lists, with array cells sorted (collect_set order is not fixed)."""
    if hasattr(x, "collect"):
        return sorted(
            repr(tuple(sorted(v) if isinstance(v, list) else v for v in r))
            for r in x.collect()
        )
    if isinstance(x, tuple):
        return tuple(_canon(v) for v in x)
    return x


@pytest.mark.parametrize(
    "build",
    MEMO_BUILDERS,
    ids=lambda b: f"{b.__module__.rsplit('.', 1)[-1]}.{b.__name__}",
)
def test_memo_artifact(spark, build):
    """A second call returns the same object and runs no job;
    clear_memo_caches() reports and drops every entry; a rebuild gives the
    same rows."""
    clear_memo_caches()
    first = build(spark, SF_DIR)
    again, jobs = _with_jobs(spark, lambda: build(spark, SF_DIR))
    assert again is first and jobs == 0
    n = sum(len(b.cache) for b in MEMO_BUILDERS)
    assert n > 0 and clear_memo_caches() == n
    assert not any(b.cache for b in MEMO_BUILDERS)
    assert _canon(build(spark, SF_DIR)) == _canon(first)
    clear_memo_caches()
