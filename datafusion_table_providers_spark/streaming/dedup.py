"""Streaming deduplication for continuous ingestion pipelines.

The batch dedup operators (llm/dedup.py) assume a bounded corpus; an
ingestion stream needs bounded state. Two Spark-native shapes:

- ``dedup_exact_stream``: ``dropDuplicates`` on a content hash inside an
  event-time watermark — state is bounded by the watermark horizon; docs
  re-appearing later than the horizon are accepted again (the standard
  at-scale tradeoff, tune the watermark to the dedup window you can afford).
- ``dedup_against_history``: stream-static join against a persisted
  fingerprint table (e.g. the batch pipeline's minhash signatures), dropping
  matches — bounded state (none — the static side is storage), exact against
  everything already ingested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_exact_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    hashed = stream.withColumn(
        "__text_hash", F.xxhash64(F.length(text_col), F.col(text_col))
    )
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicates(["__text_hash"])
        .drop("__text_hash")
    )


def dedup_against_history(
    stream: DataFrame, history_hashes: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Drop stream rows whose content hash exists in a static history table
    (column ``text_hash``). Stream-static left_anti join — no streaming
    state; the history side is re-read per microbatch (broadcast when
    small, storage-partitioned when not)."""
    hashed = stream.withColumn(
        "text_hash", F.xxhash64(F.length(text_col), F.col(text_col))
    )
    return hashed.join(history_hashes, on="text_hash", how="left_anti").drop(
        "text_hash"
    )


def decontaminate_batch(
    batch: DataFrame,
    eval_grams: DataFrame,
    text_col: str = "text",
    n: int = 4,
) -> DataFrame:
    """Drop documents sharing a word ``n``-gram with a static held-out eval
    set (column ``gram``) — the d13 discipline as a reusable stage.

    The contaminated-id set derives from the input itself, which in a
    stream would be a (unsupported) stream-stream anti-join — so the
    streaming form applies this per microbatch via ``foreachBatch`` (see
    ``decontaminate_foreach_batch``), where each batch is a bounded
    DataFrame and the planner picks the join side from its size estimates.
    Decontamination is per-document (no cross-batch state), so microbatch
    application is semantically identical to the batch operator."""
    toks = F.split(F.col(text_col), " ")
    sz = F.size(toks)
    idx = F.when(sz >= n, F.sequence(F.lit(1), sz - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = batch.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(n)]
                ),
            )
        ).alias("gram"),
    )
    contaminated = (
        grams.join(eval_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return batch.join(contaminated, "doc_id", "left_anti")


def decontaminate_foreach_batch(eval_grams: DataFrame, sink_fn, **kw):
    """Build a ``foreachBatch`` callable: each microbatch is decontaminated
    against the static eval-gram table, then handed to ``sink_fn(df)``."""

    def apply(batch: DataFrame, _epoch_id: int) -> None:
        sink_fn(decontaminate_batch(batch, eval_grams, **kw))

    return apply
