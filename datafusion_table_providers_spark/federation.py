"""Partial-subtree federation over an explicit relational IR.

Reference analog — the core novel piece (crates/common/src/sql/
sql_provider_datafusion/federation.rs:62-110 + datafusion-federation): the
optimizer walks the plan, groups **maximal sub-plans whose table sources
share one compute_context**, unparses each group into ONE dialect SQL string
executed remotely, and lets the engine execute only the cross-source
remainder.

``Engine.sql`` already handles the whole-query case. This module adds the
partial case without parsing SQL: users (or higher layers) build plans with
the ``Rel`` builder API — ``table/filter/select/join/agg/sort/limit`` — and
``materialize`` walks the tree:

1. every node carries the compute context of its subtree if ALL leaf tables
   share one (``JoinPushDown::AllowedFor`` semantics — two pools merge only
   on equal context strings, db_connection_pool/mod.rs:49-57);
2. the maximal single-context subtrees are unparsed via ``to_sql`` and each
   runs as ONE remote statement (Arrow back);
3. the remainder — joins/aggregates across different contexts or over
   Spark-native tables — is assembled as Spark SQL over the materialized
   fragments and executed by Catalyst.

Scale note: pushed fragments return aggregated/filtered results through one
Arrow stream; large-fanout fragments should stay Spark-side by registering
the table through the partitioned connector instead (the planner prefers a
pushdown only when the subtree root is an aggregate/limit or the user forces
it — see ``prefer_push``).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession

from datafusion_table_providers_spark.sources.backends import Backend

_IDS = itertools.count()


@dataclass(frozen=True)
class Rel:
    """Immutable relational-algebra node. Expressions are SQL fragments —
    the lingua franca both Spark SQL and the remote dialects accept."""

    kind: str  # table | filter | project | join | agg | sort | limit
    children: Tuple["Rel", ...] = ()
    # payload per kind:
    table: Optional[str] = None  # table: logical name
    backend: Optional[Backend] = None  # table: owning backend (None = spark)
    remote_relation: Optional[str] = None  # table: relation text on backend
    exprs: Tuple[str, ...] = ()  # project/agg select list, filter condition,
    #                              sort keys
    on: Optional[str] = None  # join condition
    how: str = "inner"  # join type
    group_by: Tuple[str, ...] = ()  # agg keys
    n: Optional[int] = None  # limit

    # ---- builder API -----------------------------------------------------
    def filter(self, condition: str) -> "Rel":
        return Rel("filter", (self,), exprs=(condition,))

    def select(self, *exprs: str) -> "Rel":
        return Rel("project", (self,), exprs=tuple(exprs))

    def join(self, other: "Rel", on: str, how: str = "inner") -> "Rel":
        return Rel("join", (self, other), on=on, how=how)

    def agg(self, group_by: Sequence[str], *aggs: str) -> "Rel":
        return Rel("agg", (self,), group_by=tuple(group_by), exprs=tuple(aggs))

    def sort(self, *keys: str) -> "Rel":
        return Rel("sort", (self,), exprs=tuple(keys))

    def limit(self, n: int) -> "Rel":
        return Rel("limit", (self,), n=n)

    def union(self, other: "Rel", all: bool = True) -> "Rel":
        """UNION [ALL]. Window functions need no dedicated node: they are
        plain select-list expressions (``select("x", "SUM(v) OVER (...) AS
        s")``) valid in both Spark SQL and every remote dialect, so the
        project node federates them — matching the reference's claim that
        whole window-bearing plans push down (README.md:7-9)."""
        return Rel("union", (self, other), how="all" if all else "distinct")

    # ---- federation analysis --------------------------------------------
    def context(self) -> Optional[str]:
        """compute_context shared by ALL leaves of this subtree, else None.
        (Spark-native leaves poison the subtree — they have no remote home.)"""
        ctxs = set()
        for leaf in self.leaves():
            if leaf.backend is None:
                return None
            ctxs.add(leaf.backend.compute_context())
        return ctxs.pop() if len(ctxs) == 1 else None

    def leaves(self) -> List["Rel"]:
        if self.kind == "table":
            return [self]
        return [x for c in self.children for x in c.leaves()]

    # ---- SQL unparsing (for pushed subtrees and the Spark remainder) -----
    def to_sql(self, name_of) -> str:
        """Unparse to SQL. ``name_of(table_rel) -> str`` supplies relation
        text (remote relation for pushed trees; temp-view name for the
        Spark remainder)."""
        if self.kind == "table":
            return f"SELECT * FROM {name_of(self)}"
        if self.kind == "filter":
            return (
                f"SELECT * FROM ({self.children[0].to_sql(name_of)}) "
                f"t{next(_IDS)} WHERE {self.exprs[0]}"
            )
        if self.kind == "project":
            cols = ", ".join(self.exprs)
            return (
                f"SELECT {cols} FROM ({self.children[0].to_sql(name_of)}) "
                f"t{next(_IDS)}"
            )
        if self.kind == "join":
            jt = {
                "inner": "JOIN",
                "left": "LEFT JOIN",
                "right": "RIGHT JOIN",
                "outer": "FULL OUTER JOIN",
                "cross": "CROSS JOIN",
            }[self.how]
            left = f"({self.children[0].to_sql(name_of)}) a{next(_IDS)}"
            right = f"({self.children[1].to_sql(name_of)}) b{next(_IDS)}"
            on = f" ON {self.on}" if self.on else ""
            return f"SELECT * FROM {left} {jt} {right}{on}"
        if self.kind == "agg":
            sel = ", ".join(tuple(self.group_by) + tuple(self.exprs))
            gb = (
                " GROUP BY " + ", ".join(self.group_by) if self.group_by else ""
            )
            return (
                f"SELECT {sel} FROM ({self.children[0].to_sql(name_of)}) "
                f"t{next(_IDS)}{gb}"
            )
        if self.kind == "sort":
            return (
                f"SELECT * FROM ({self.children[0].to_sql(name_of)}) "
                f"t{next(_IDS)} ORDER BY {', '.join(self.exprs)}"
            )
        if self.kind == "limit":
            return (
                f"SELECT * FROM ({self.children[0].to_sql(name_of)}) "
                f"t{next(_IDS)} LIMIT {self.n}"
            )
        if self.kind == "union":
            op = "UNION ALL" if self.how == "all" else "UNION"
            return (
                f"SELECT * FROM ({self.children[0].to_sql(name_of)}) "
                f"u{next(_IDS)} {op} "
                f"SELECT * FROM ({self.children[1].to_sql(name_of)}) "
                f"u{next(_IDS)}"
            )
        raise ValueError(self.kind)


def table(name: str, backend: Optional[Backend] = None,
          remote_relation: Optional[str] = None) -> Rel:
    return Rel(
        "table",
        table=name,
        backend=backend,
        remote_relation=remote_relation or name,
    )


@dataclass
class FederationPlan:
    pushed: List[Tuple[str, str]] = field(default_factory=list)  # (ctx, sql)
    remainder_sql: Optional[str] = None  # None → whole plan pushed


def materialize(
    spark: SparkSession,
    rel: Rel,
    explain: Optional[FederationPlan] = None,
    threshold_rows: Optional[int] = None,
    spool_dir: Optional[str] = None,
) -> DataFrame:
    """Execute with maximal same-context subtree pushdown.

    Walks top-down: the first node whose whole subtree shares a context is
    unparsed and executed remotely as ONE statement (maximality — exactly
    the reference's grouping rule); everything above runs on Spark over the
    materialized fragments. Fragment results above ``threshold_rows`` are
    spooled to parquet (executor-side read) instead of transiting driver
    memory — see sources/transport.py."""
    from datafusion_table_providers_spark.sources.transport import (
        DEFAULT_THRESHOLD_ROWS,
        materialize_remote,
    )

    limit = DEFAULT_THRESHOLD_ROWS if threshold_rows is None else threshold_rows

    def remote_name(t: Rel) -> str:
        return t.remote_relation

    def walk(node: Rel) -> Tuple[str, Dict[str, DataFrame]]:
        """Returns (sql_fragment_for_spark, temp_views)."""
        ctx = node.context()
        if ctx is not None:
            sql = node.to_sql(remote_name)
            backend = node.leaves()[0].backend
            if explain is not None:
                explain.pushed.append((ctx, sql))
            df = materialize_remote(
                spark,
                backend,
                sql,
                threshold_rows=limit,
                spool_dir=spool_dir,
                # the fragment re-enters a Spark join above this node, so
                # the known-small row count becomes a broadcast decision
                broadcast_hint=True,
            )
            view = f"__fed_{next(_IDS)}"
            return f"SELECT * FROM {view}", {view: df}
        if node.kind == "table":  # spark-native leaf
            return f"SELECT * FROM {node.table}", {}
        parts = [walk(c) for c in node.children]
        views: Dict[str, DataFrame] = {}
        for _, v in parts:
            views.update(v)
        fake_children = tuple(
            Rel("table", table=f"({sql}) s{next(_IDS)}")
            for sql, _ in parts
        )
        shallow = Rel(
            node.kind,
            fake_children,
            exprs=node.exprs,
            on=node.on,
            how=node.how,
            group_by=node.group_by,
            n=node.n,
        )
        return shallow.to_sql(lambda t: t.table), views

    sql, views = walk(rel)
    for name, df in views.items():
        df.createOrReplaceTempView(name)
    if explain is not None:
        explain.remainder_sql = None if not views or rel.context() else sql
    return spark.sql(sql)
