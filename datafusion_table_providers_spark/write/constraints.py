"""Pre-write constraint validation.

Reference analog: crates/common/src/util/constraints.rs:28-123 — incoming
batches are checked for PK/unique violations *before* any write, using a
``count(1) OVER (PARTITION BY keys) > 1`` window. Here the same count is a
Spark ``groupBy`` aggregate that also flags NULL keys — one distributed pass,
no collect beyond the first faulty group, scales to any input size.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class ConstraintViolation(Exception):
    pass


def validate_unique(df: DataFrame, keys: Sequence[str]) -> None:
    """Raise if `keys` do not hold a primary key over `df`: a NULL in a key
    column, or a duplicate key tuple (batch self-consistency).

    One pass: groupBy-count rather than a window, so Catalyst does map-side
    partial aggregation, keeping only groups with a NULL key or more than
    one row. NULL groups sort first, so a batch with both faults reports the
    NULL.
    """
    if not keys:
        return
    null_key = F.lit(False)
    for k in keys:
        null_key = null_key | F.col(k).isNull()
    bad = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__null", null_key)
        .filter(F.col("__null") | (F.col("__n") > 1))
        .orderBy(F.col("__null").desc())
        .limit(1)
        .collect()
    )
    if not bad:
        return
    if bad[0]["__null"]:
        raise ConstraintViolation(f"NULL in constrained columns {list(keys)}")
    vals = {k: bad[0][k] for k in keys}
    raise ConstraintViolation(
        f"incoming batch violates unique constraint on {list(keys)}: "
        f"duplicate key {vals}"
    )


def validate_not_null(df: DataFrame, keys: Sequence[str]) -> None:
    """Raise if a `keys` column of `df` holds a NULL (``validate_unique``
    checks this too)."""
    if not keys:
        return
    cond = None
    for k in keys:
        c = F.col(k).isNull()
        cond = c if cond is None else (cond | c)
    bad = df.filter(cond).limit(1).collect()
    if bad:
        raise ConstraintViolation(f"NULL in constrained columns {list(keys)}")
