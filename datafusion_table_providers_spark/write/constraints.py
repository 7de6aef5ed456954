"""Pre-write constraint validation on the sink's staging relation.

Reference analog: crates/common/src/util/constraints.rs:28-123 — the batches
about to be written are checked for PK/unique violations *before* they
reach the target table, using a ``count(1) OVER (PARTITION BY keys) > 1``
window (called from the writer, write.rs:466-476). Here every write
transport first lands its rows in a staging relation inside the sink (a
registered Arrow table, a ``read_parquet`` spool glob or a staging table),
so the check is one SQL query the sink runs on that relation: a
``GROUP BY keys`` count that also flags NULL keys, with no Spark job. A
rejected batch never reaches ``CREATE TABLE`` or the ingest, so it lands
no row.

``fetchone(sql)`` runs a query on the sink and returns its first row as a
sequence (None when the result is empty); each transport passes its own
connection's.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from datafusion_table_providers_spark.core.expr import DIALECTS

FetchOne = Callable[[str], Optional[Sequence]]
_dq = DIALECTS["ansi"].quote_ident


class ConstraintViolation(Exception):
    pass


def _null_violation(keys: Sequence[str]) -> ConstraintViolation:
    return ConstraintViolation(f"NULL in constrained columns {list(keys)}")


def _any_null(keys: Sequence[str], quote) -> str:
    return " OR ".join(f"{quote(k)} IS NULL" for k in keys)


def validate_unique(
    fetchone: FetchOne,
    relation: str,
    keys: Sequence[str],
    quote: Callable[[str], str] = _dq,
) -> int:
    """Raise if `keys` do not hold a primary key over the staging
    `relation` (an already-quoted identifier or table function): a NULL in
    a key column, or a duplicate key tuple (batch self-consistency).
    Returns the relation's row count, which the same query sums.

    One query: a group-count per key tuple, ordered so that a group with a
    NULL key comes first, then the largest group, and only that row comes
    back. A batch with both faults therefore reports the NULL.
    """
    cols = ", ".join(quote(k) for k in keys)
    row = fetchone(
        f"SELECT SUM(__n) OVER () AS __rows, __null, __n, "
        f"{cols} FROM (SELECT {cols}, COUNT(*) AS __n, "
        f"CASE WHEN {_any_null(keys, quote)} THEN 1 ELSE 0 END AS __null "
        f"FROM {relation} GROUP BY {cols}) AS __groups "
        f"ORDER BY __null DESC, __n DESC LIMIT 1"
    )
    if row is None:
        return 0
    rows, null, n, *vals = row
    if null:
        raise _null_violation(keys)
    if n > 1:
        raise ConstraintViolation(
            f"incoming batch violates unique constraint on {list(keys)}: "
            f"duplicate key {dict(zip(keys, vals))}"
        )
    return int(rows)


def validate_not_null(
    fetchone: FetchOne,
    relation: str,
    keys: Sequence[str],
    quote: Callable[[str], str] = _dq,
) -> None:
    """Raise if a `keys` column of the staging `relation` holds a NULL
    (``validate_unique`` checks this too, in its one query)."""
    if fetchone(f"SELECT 1 FROM {relation} WHERE {_any_null(keys, quote)} LIMIT 1"):
        raise _null_violation(keys)
