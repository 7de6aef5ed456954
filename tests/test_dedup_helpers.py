"""Shared pieces: the package source holds no broadcast hint but the
gate's and the allowlisted ones, and with the gate's cap at 0 the entries
that build those sites show only them; every memoized builder returns its
artifact without a job on the second call; LSH verification builds each
candidate's shingle-set intersection once."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest

from datafusion_table_providers_spark import session
from datafusion_table_providers_spark.core.memo import (
    MEMO_BUILDERS,
    clear_memo_caches,
)
from datafusion_table_providers_spark.llm import dedup, similarity  # noqa: F401
from datafusion_table_providers_spark.suite import FULL_SUITE

from tests.conftest import SF_DIR
from tests.test_r22_rewrites import _naive_d02b
from verify_local import job_group

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


# Raw broadcast hints outside the gate, bounded by a data property no
# build-time count holds: name → pattern of the plan inside the broadcast
# side. Every other hint goes through session.bounded_broadcast.
BROADCAST_ALLOWLIST = {
    # d04: shingles in more than FREQ_CAP docs, |common| <= Σ df / FREQ_CAP
    "d04.common": re.compile(r"\bdf#\d+L? > \d+\)"),
    # d22: blocks of more than D22_BLOCK_CAP docs, |bad| <= docs / cap
    "d22.bad": re.compile(r"\bbn#\d+L? > \d+\)"),
    # d36 / p04: one mixture row per source; p04 mixes d38's filtered docs
    "d36.mix": re.compile(r"(?s)\A(?!.*percentile).*\bw_total#"),
    "p04.mix": re.compile(r"(?s)\A(?=.*percentile).*\bw_total#"),
}

# the allowlisted sites each registry entry builds (none for the rest)
BROADCAST_SITES = {
    "d04": {"d04.common"},
    "d22": {"d22.bad"},
    "d04b": {"d04.common", "d22.bad"},
    "d35": {"d04.common"},  # d04's rare-shingle filter in d35's final plan
    "d36": {"d36.mix"},
    "d39": {"d36.mix"},  # d39 orders d36's repeats
    "p04": {"p04.mix"},
    "d36b": {"d36.mix", "p04.mix"},
}

# entries whose builds the plan test checks: every one reaching an
# allowlisted site, plus the gated dedup joins, which must show none (the
# source scan below already fixes the set of raw hints package-wide)
PLAN_CHECKED = set(BROADCAST_SITES) | {"d02b", "d03b", "d26"}


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


def _build_plans(spark, build):
    """The initial physical plan of ``build()``'s DataFrame plus the plan
    of every SQL execution the build ran (its eager checkpoints and
    collects), read back from the driver's SQL status store. An AQE
    execution's description keeps its initial plan, so a broadcast AQE
    later planned away still shows."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    execs = store.executionsList()
    last = execs.last().executionId() if execs.nonEmpty() else -1
    df = build()
    plans = [df._jdf.queryExecution().executedPlan().toString()]
    bus.waitUntilEmpty()
    execs = store.executionsList()
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.executionId() <= last:
            break
        plans.append(e.physicalPlanDescription())
    return plans


@pytest.mark.parametrize(
    "name, sites",
    [
        (n, BROADCAST_SITES.get(n.split("_")[0], set()))
        for n in FULL_SUITE
        if n.split("_")[0] in PLAN_CHECKED
    ],
    ids=lambda x: x.split("_")[0] if isinstance(x, str) else "",
)
def test_broadcasts_only_on_allowlist(spark, name, sites, monkeypatch):
    """With the gate's cap at 0 and Spark's own size-based broadcast off, a
    BroadcastExchange in the plans of a registry entry's build (the final
    DataFrame and every eager execution on the way) can only come from a
    raw hint; every one must be an allowlisted site, and each entry must
    show exactly the sites it is listed with."""
    monkeypatch.setattr(session, "BROADCAST_MAX_ROWS", 0)
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.ui.explainMode": "simple",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        clear_memo_caches()
        plans = _build_plans(spark, lambda: FULL_SUITE[name].fn(spark, SF_DIR))
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        clear_memo_caches()
    seen = set()
    for side in (s for plan in plans for s in _broadcast_sides(plan)):
        hits = {n for n, pat in BROADCAST_ALLOWLIST.items() if pat.search(side)}
        assert hits, f"{name}: broadcast not on the allowlist:\n{side}"
        seen |= hits
    assert seen == sites


# Raw hints in the package source: (module path, call text). Each is an
# allowlisted site above, or skew.hot_cold_join's hot-key side (no
# registry entry builds it), or the gate itself.
RAW_HINTS = {
    ("session.py", "F.broadcast(df)"),
    ("llm/dedup.py", "F.broadcast(common)"),
    ("llm/dedup.py", "F.broadcast(bad)"),
    ("llm/curation.py", "F.broadcast(mix)"),
    ("llm/pipeline.py", "F.broadcast(mix)"),
    (
        "operators/skew.py",
        "F.broadcast(other.filter(F.col(key).isin(hot_keys)))",
    ),
}


def _is_broadcast_hint(node) -> bool:
    """``F.broadcast(...)``/``broadcast(...)`` or ``.hint("broadcast")``."""
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    if isinstance(f, ast.Name):
        return f.id == "broadcast"
    if not isinstance(f, ast.Attribute):
        return False
    if f.attr == "broadcast":
        return isinstance(f.value, ast.Name) and f.value.id in ("F", "functions")
    return (
        f.attr == "hint"
        and bool(node.args)
        and isinstance(node.args[0], ast.Constant)
        and str(node.args[0].value).lower()
        in ("broadcast", "broadcastjoin", "mapjoin")
    )


# a broadcast hint in SQL text: /*+ BROADCAST(t) */, BROADCASTJOIN, MAPJOIN
SQL_HINT = re.compile(r"/\*\+.*\b(broadcast|broadcastjoin|mapjoin)\b", re.I | re.S)


def _is_sql_hint(node) -> bool:
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and bool(SQL_HINT.search(node.value))
    )


def test_raw_broadcast_hints_only_on_allowlist():
    """Every broadcast hint in the package source, API call or SQL text, is
    the gate's or an allowlisted site's, on paths no registry entry builds
    as well (federation, the skew helpers, the streaming joins)."""
    root = Path(session.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        src = path.read_text()
        for node in ast.walk(ast.parse(src)):
            if _is_broadcast_hint(node) or _is_sql_hint(node):
                rel = path.relative_to(root).as_posix()
                found.add((rel, ast.get_source_segment(src, node)))
    assert found == RAW_HINTS


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
    with job_group(spark) as call:
        again = build(spark, SF_DIR)
    assert again is first and call.jobs == []
    n = sum(len(b.cache) for b in MEMO_BUILDERS)
    assert n > 0 and clear_memo_caches() == n
    assert not any(b.cache for b in MEMO_BUILDERS)
    assert _canon(build(spark, SF_DIR)) == _canon(first)
    clear_memo_caches()
