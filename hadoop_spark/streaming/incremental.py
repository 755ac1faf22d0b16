"""Incremental snapshot maintenance — streaming upsert into a versioned
parquet snapshot (`foreachBatch` + operators/cdc.merge_upsert).

The reference's users ran this as a nightly chain: yesterday's snapshot
JOIN today's delta → tomorrow's snapshot (the datajoin pattern,
`hadoop-datajoin/.../DataJoinJob.java:40`, scheduled by JobControl). Here
the same maintenance runs continuously: each micro-batch merges into the
current snapshot version and commits the next version directory.

Exactly-once story (the part the reference never had): versions are keyed
by `batch_id`, so a batch retry rewrites THE SAME version directory
(idempotent overwrite) instead of double-applying the delta — Structured
Streaming's checkpoint guarantees each batch id is delivered at least
once, and the path-by-batch-id write makes the effect exactly-once.

Scale: per batch, cost is one key shuffle over |snapshot ∪ delta| — the
snapshot rewrite is the classic copy-on-write table format trade
(Delta/Iceberg/Hudi CoW). A 100 TB snapshot partitions by key range and
rewrites only partitions containing delta keys; this module keeps the
single-directory layout since fixtures are small, and documents the
partitioned upgrade.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_spark.streaming.windows import drain


def _version_dirs(path: str) -> list[tuple[int, str]]:
    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if d.startswith("v") and d[1:].isdigit():
            full = os.path.join(path, d)
            # only committed versions count (job-committed parquet writes
            # a _SUCCESS marker)
            if os.path.exists(os.path.join(full, "_SUCCESS")):
                out.append((int(d[1:]), full))
    return sorted(out)


def current_snapshot(spark: SparkSession, path: str) -> DataFrame | None:
    """Latest committed snapshot version, or None before the first batch."""
    dirs = _version_dirs(path)
    return spark.read.parquet(dirs[-1][1]) if dirs else None


def stream_merge_to_snapshot(
    stream_df: DataFrame,
    snapshot_path: str,
    key: str,
    version_col: str,
    query_name: str = "merge_stream",
    timeout_sec: float = 120,
):
    """Run `stream_df` (availableNow) through foreachBatch, merging each
    micro-batch into the versioned snapshot at `snapshot_path`: within a
    batch the highest `version_col` per key wins, then merge_upsert applies
    the batch onto the previous version. Returns after the stream drains;
    raises TimeoutError if it has not drained within `timeout_sec`."""
    from hadoop_spark.operators.cdc import merge_upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        w = Window.partitionBy(key).orderBy(F.col(version_col).desc())
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        snap = current_snapshot(spark, snapshot_path)
        merged = latest if snap is None else merge_upsert(snap, latest, key, version_col)
        out = os.path.join(snapshot_path, f"v{batch_id:05d}")
        merged.write.mode("overwrite").parquet(out)

    q = (
        stream_df.writeStream.foreachBatch(apply_batch)
        .queryName(query_name)
        .trigger(availableNow=True)
        .option(
            "checkpointLocation", os.path.join(snapshot_path, "_checkpoint")
        )
        .start()
    )
    drain(q, timeout_sec, f"snapshot at {snapshot_path}")
