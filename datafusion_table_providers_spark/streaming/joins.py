"""Stream-stream and stream-static joins (Structured Streaming).

The reference's Flight streams are passthrough-only (SURVEY §2 'not
present'); joining unbounded sources is a Spark-native addition, built the
canonical way:

- ``stream_stream_interval_join``: inner join of two event streams on a key
  within an event-time interval. BOTH sides carry watermarks and the join
  condition bounds event-time distance, so Spark can expire state — the two
  requirements for an unbounded-state-safe stream-stream join. State per
  key is bounded by (watermark + interval) on each side.
- ``stream_static_enrich``: enrich a stream against a bounded dimension
  (connector-backed or parquet). The static side re-plans per micro-batch
  and broadcasts when small — zero streaming state.

At 100 TB/day these are the only two join shapes that hold: anything
without a watermark-bounded condition accumulates state forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    interval: str = "30 minutes",
) -> DataFrame:
    """Pairs of (left, right) events for the same key with the right event
    inside ``[left.ts, left.ts + interval]`` — e.g. click→purchase
    attribution. Returns key, both timestamps, and both event types."""
    l = left.withWatermark(ts_col, watermark).alias("l")
    r = right.withWatermark(ts_col, watermark).alias("r")
    lts, rts = F.col(f"l.{ts_col}"), F.col(f"r.{ts_col}")
    return l.join(
        r,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {interval}")),
    ).select(
        F.col(f"l.{key}").alias(key),
        lts.alias("l_ts"),
        rts.alias("r_ts"),
        F.col("l.event_type").alias("l_type"),
        F.col("r.event_type").alias("r_type"),
    )


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static join: the static side is re-read per micro-batch (so a
    slowly-changing dimension picks up updates) and broadcast when small.
    No streaming state at all — the scale-safe enrichment shape."""
    return stream.join(dim, key, how)
