"""Skew-aware join helpers for 100 TB-scale key distributions.

AQE's skew-join splitting handles moderately skewed *shuffle* joins at
runtime; these helpers cover the cases AQE can't:

- ``salted_join``: hot keys on the big side are salted into ``n_salts``
  sub-keys and the (small) build side is exploded across all salt values, so
  a single hot key spreads over ``n_salts`` reducers instead of one straggler
  task. Classic explode-salt pattern, expressed declaratively (no UDFs).
- ``hot_cold_join``: when hot keys are few and known (or discoverable with a
  cheap count), route hot-key rows through a broadcast join and the long
  tail through a regular shuffle join, then union — the plan shape that
  keeps a 1000-executor cluster busy instead of waiting on one task.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with salt-spread reducers.

    ``big`` gets a deterministic per-row salt (hash of all columns, not a
    random() — keeps retries/recomputation idempotent); ``small`` is
    replicated ``n_salts`` times. Join key becomes (key, salt)."""
    salt = (F.abs(F.xxhash64(*[F.col(c) for c in big.columns])) % n_salts).alias(
        "__salt"
    )
    big_s = big.withColumn("__salt", salt)
    small_s = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = big_s.join(small_s, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def find_hot_keys(
    df: DataFrame, key: str, threshold_ratio: float = 0.01, max_keys: int = 100
) -> List:
    """Keys holding more than ``threshold_ratio`` of all rows (approximate,
    one aggregate pass)."""
    total = df.count()
    rows = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > total * threshold_ratio)
        .orderBy(F.desc("__n"))
        .limit(max_keys)
        .collect()
    )
    return [r[key] for r in rows]


def hot_cold_join(
    big: DataFrame,
    other: DataFrame,
    key: str,
    hot_keys: Optional[List] = None,
    how: str = "inner",
) -> DataFrame:
    """Split-route join: hot keys broadcast, cold keys shuffle."""
    if hot_keys is None:
        hot_keys = find_hot_keys(big, key)
    if not hot_keys:
        return big.join(other, on=key, how=how)
    hot_b = big.filter(F.col(key).isin(hot_keys))
    cold_b = big.filter(~F.col(key).isin(hot_keys))
    # raw hint, allowlisted: the side holds other's rows for len(hot_keys)
    # keys, a bound only other's key multiplicity (a data property) sets
    hot = hot_b.join(F.broadcast(other.filter(F.col(key).isin(hot_keys))), on=key, how=how)
    cold = cold_b.join(other.filter(~F.col(key).isin(hot_keys)), on=key, how=how)
    return hot.unionByName(cold)
