"""Streaming incremental upsert (streaming/incremental.py): multi-batch
foreachBatch merge must converge to the same state as a single batch
keep-latest over all the data, and versions must be committed monotonically."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hadoop_spark.sources.tables import load_table
from hadoop_spark.streaming.incremental import (
    _version_dirs,
    current_snapshot,
    stream_merge_to_snapshot,
)
from tests.conftest import SF_DIR


def test_stream_merge_converges_to_batch_answer(spark, tmp_path):
    # per-user "profile" rows: value at each event, versioned by event time
    events = load_table(spark, SF_DIR, "events").select(
        "user_id",
        F.unix_micros("ts").alias("v"),
        F.col("value").alias("last_value"),
    )
    # several input files → several micro-batches (maxFilesPerTrigger=1)
    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    snap_path = str(tmp_path / "snapshot")
    stream_merge_to_snapshot(stream, snap_path, key="user_id", version_col="v")

    versions = _version_dirs(snap_path)
    assert len(versions) >= 2, "expected multiple micro-batches"
    assert [v for v, _ in versions] == sorted(v for v, _ in versions)

    got = {
        r.user_id: (r.v, r.last_value)
        for r in current_snapshot(spark, snap_path).collect()
    }
    # batch oracle: keep-latest by (v) per user over ALL events
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("v").desc())
    want = {
        r.user_id: (r.v, r.last_value)
        for r in events.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
        .collect()
    }
    assert got == want


def test_batch_retry_is_idempotent(spark, tmp_path):
    """Re-applying the same batch id must rewrite the same version dir, not
    double-apply the delta (the exactly-once contract)."""
    from hadoop_spark.streaming import incremental as inc

    df = spark.createDataFrame([(1, 10, "a"), (2, 10, "b")], "k int, v int, s string")
    snap = str(tmp_path / "snap")

    # simulate foreachBatch calling twice with the same batch_id
    from hadoop_spark.operators.cdc import merge_upsert  # noqa: F401 (sanity import)

    def apply(batch_df, batch_id):
        latest = batch_df
        prev = inc.current_snapshot(spark, snap)
        merged = latest if prev is None else merge_upsert(prev, latest, "k", "v")
        merged.write.mode("overwrite").parquet(os.path.join(snap, f"v{batch_id:05d}"))

    apply(df, 0)
    apply(df, 0)  # retry
    got = sorted(map(tuple, inc.current_snapshot(spark, snap).collect()))
    assert got == [(1, 10, "a"), (2, 10, "b")]
    assert len(inc._version_dirs(snap)) == 1


def test_stream_merge_raises_when_stream_has_not_drained(spark, tmp_path):
    src = str(tmp_path / "src")
    events = load_table(spark, SF_DIR, "events")
    events.select("user_id", F.unix_micros("ts").alias("v")).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    with pytest.raises(TimeoutError, match="is partial"):
        stream_merge_to_snapshot(
            stream,
            str(tmp_path / "snapshot"),
            key="user_id",
            version_col="v",
            query_name="t_merge_timeout",
            timeout_sec=0.01,
        )
    assert not [q for q in spark.streams.active if q.name == "t_merge_timeout"]
