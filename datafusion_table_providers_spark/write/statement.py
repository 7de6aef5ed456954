"""Dialect-parameterized INSERT statement rendering.

Reference analog: the write-side statement generator
(crates/common/src/util/statement.rs:233-1339 — ``InsertBuilder`` renders
``INSERT INTO t (cols) VALUES (...)`` / ``... SELECT ...`` per dialect,
with the ON CONFLICT clause appended). It is the reference's biggest
single SQL-generation surface, so every writer path here routes through
this one function and the static dialect linter gates its output for
all dialects in tests (tests/test_dialect_lint.py) — the no-server
substitute for executing the write path against live Postgres/MySQL/
ClickHouse servers.
"""

from __future__ import annotations

from typing import Optional, Sequence

from datafusion_table_providers_spark.core.expr import DIALECTS
from datafusion_table_providers_spark.write.on_conflict import OnConflict

#: DB-API paramstyle marker per dialect (qmark elsewhere). Callers that
#: know the live driver module's paramstyle pass ``param_mark`` explicitly.
_PARAM_MARK = {"postgres": "%s", "mysql": "%s"}


def render_insert(
    dialect_name: str,
    table: str,
    columns: Sequence[str],
    *,
    select_from: Optional[str] = None,
    on_conflict: Optional[OnConflict] = None,
    param_mark: Optional[str] = None,
    extra_columns: Sequence[str] = (),
    quote_table: bool = True,
) -> str:
    """One INSERT statement, dialect-correct quoting throughout.

    - ``select_from`` set → ``INSERT ... SELECT <cols> FROM <select_from>``
      (the staging-relation ingest shape; ``select_from`` is a relation
      fragment — already-quoted identifier or table function — passed
      through verbatim).
    - otherwise → prepared ``VALUES (?, ...)`` with the dialect's (or the
      caller's) placeholder marker.
    - ``extra_columns`` appends bookkeeping columns (e.g. the staging
      partition tag) without involving them in conflict resolution.
    - ``quote_table=False`` passes ``table`` through verbatim for callers
      holding a pre-quoted name.
    """
    d = DIALECTS[dialect_name]
    q = d.quote_ident
    cols = list(columns) + list(extra_columns)
    col_sql = ", ".join(q(c) for c in cols)
    if select_from is not None:
        body = f"SELECT {col_sql} FROM {select_from}"
        if on_conflict and dialect_name == "sqlite":
            # SQLite reads ``FROM t ON CONFLICT`` as a join constraint; a
            # WHERE clause ends the SELECT (its documented parsing fix)
            body += " WHERE true"
    else:
        mark = param_mark or _PARAM_MARK.get(dialect_name, "?")
        body = f"VALUES ({', '.join([mark] * len(cols))})"
    conflict = (
        " " + on_conflict.to_sql(list(columns), dialect_name)
        if on_conflict
        else ""
    )
    target = q(table) if quote_table else table
    return f"INSERT INTO {target} ({col_sql}) {body}{conflict}"


def render_delete(
    dialect_name: str,
    table: str,
    condition: Optional[str] = None,
    returning: bool = False,
) -> str:
    """DELETE with dialect-quoted target (reference dml.rs:49-123).
    ``condition`` is a caller-supplied SQL fragment, passed verbatim;
    ``returning`` appends ``RETURNING 1`` for engines that count that way."""
    d = DIALECTS[dialect_name]
    where = f" WHERE {condition}" if condition else ""
    ret = " RETURNING 1" if returning else ""
    return f"DELETE FROM {d.quote_ident(table)}{where}{ret}"


def render_update(
    dialect_name: str,
    table: str,
    assignments,
    condition: Optional[str] = None,
) -> str:
    """UPDATE from column→SQL-expression assignments (dml.rs:126-199).
    Column names quote per dialect; expressions pass verbatim."""
    d = DIALECTS[dialect_name]
    q = d.quote_ident
    sets = ", ".join(f"{q(c)} = {expr}" for c, expr in assignments.items())
    where = f" WHERE {condition}" if condition else ""
    return f"UPDATE {q(table)} SET {sets}{where}"
