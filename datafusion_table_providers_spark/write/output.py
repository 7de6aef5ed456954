"""Curated-corpus output: parquet laid out for the readers that follow.

The end of every training-data pipeline is a write nobody grades until it
falls over at scale. Spark gives the layout moves declaratively; this
module pins them so callers don't rediscover them:

- ``write_clustered`` range-partitions and sorts on the columns readers
  filter on, so footer min/max stats skip whole files;
- ``compact_dataset`` rewrites a dataset of many small files into
  size-targeted ones, optionally clustering in the same pass.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_by: Sequence[str],
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet CLUSTERED on ``cluster_by``: range-repartition so each
    output file owns a disjoint key range, then sort within partitions so
    row-group min/max stats are tight.

    This is the layout move that makes a 100 TB corpus cheap to query: a
    reader filtering on the cluster key prunes whole files from the parquet
    footers alone (file skipping), and row-group stats prune within the
    files that remain. Without it, every file spans the full key range and
    a selective filter still scans everything. Same idea as Delta/Iceberg
    OPTIMIZE ZORDER for the single-key case, in plain Spark + parquet."""
    cols = [df[c] for c in cluster_by]
    (
        df.repartitionByRange(num_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def compact_dataset(
    spark,
    path: str,
    target_file_bytes: int = 128 << 20,
    cluster_by: Sequence[str] = (),
) -> tuple:
    """Rewrite a parquet dataset into size-targeted files (small-file
    compaction — the Delta/Iceberg OPTIMIZE analog in plain Spark).

    Streaming sinks and fine-grained incremental appends accumulate
    thousands of KB-sized files; at 100 TB the resulting footer/open
    overhead dominates scan time long before the data does. This rewrites
    the dataset into ``ceil(total_bytes / target_file_bytes)`` files —
    via a shuffle-free ``coalesce`` when only merging, or a
    range-repartition + sort when ``cluster_by`` is given (compaction and
    clustering in one pass, so the rewrite also buys footer pruning).

    The swap is staged: new files land in a sibling directory while the
    dataset stays readable, then two directory renames publish them.
    Local-FS renames are atomic; on an object store, point readers at a
    catalog/manifest instead of relying on directory rename.

    Returns ``(files_before, files_after)``.
    """
    import glob
    import math
    import os
    import shutil

    base = path.rstrip("/")
    staging, trash = base + "__compacting", base + "__compacted_old"
    # Crashed-run recovery — ORDER MATTERS. A crash between the two publish
    # renames below leaves the dataset only in `trash`; restore it before
    # any cleanup, and never delete a sibling dir unless `base` exists
    # (deleting trash while base is missing would destroy the only copy).
    if not os.path.exists(base) and os.path.exists(trash):
        os.rename(trash, base)
    if not os.path.exists(base):
        raise FileNotFoundError(f"compact_dataset: no dataset at {base}")
    for leftover in (staging, trash):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)

    # Hive-partitioned layouts (key=value dirs) would be silently FLATTENED
    # by this rewrite — Spark infers the partition columns on read, and the
    # plain write below folds them back into the files, changing the layout
    # downstream readers prune on. Refuse rather than degrade; compact each
    # partition directory individually instead.
    for entry in os.listdir(base):
        if "=" in entry and os.path.isdir(os.path.join(base, entry)):
            raise ValueError(
                f"compact_dataset: {base} is hive-partitioned ({entry}/); "
                "compact each partition directory separately"
            )
    before = glob.glob(os.path.join(base, "**", "*.parquet"), recursive=True)
    total = sum(os.path.getsize(f) for f in before)
    n_out = max(1, math.ceil(total / target_file_bytes))

    df = spark.read.parquet(base)
    if cluster_by:
        out = df.repartitionByRange(
            n_out, *[df[c] for c in cluster_by]
        ).sortWithinPartitions(*cluster_by)
    elif n_out < len(before):
        # One input file ≈ one scan partition for the small files this
        # rewrites; the file count (already in hand) decides coalesce vs
        # repartition without touching df.rdd, which forces a legacy-plan
        # conversion and breaks under Spark Connect.
        out = df.coalesce(n_out)  # narrow merge, no shuffle
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(staging)

    os.rename(base, trash)
    os.rename(staging, base)
    shutil.rmtree(trash)
    after = glob.glob(os.path.join(base, "**", "*.parquet"), recursive=True)
    return len(before), len(after)
