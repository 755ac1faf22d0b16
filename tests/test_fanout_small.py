"""fanout_small (sources/tables.py) spreads under-parallel scans before
CPU-heavy map phases. Since r11 it also detects the parquet giant-row-group
trap: a file can pack into many byte-range splits while only the splits
containing a row-group MIDPOINT ever yield rows (the x100 probe replica
put 14.4M of 15M rows in ONE task this way). Split count therefore lies;
total row-group count is the true scan-parallelism bound."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hadoop_spark.sources.tables import fanout_small


@pytest.fixture(scope="module")
def spark():
    from hadoop_spark.session import get_session

    return get_session(app_name="test_fanout_small", master="local[2]")


def _write_parquet(tmp_path, name, n_rows, row_group_size):
    tbl = pa.table({"k": list(range(n_rows)), "v": [f"x{i:06d}" for i in range(n_rows)]})
    path = os.path.join(str(tmp_path), name)
    pq.write_table(tbl, path, row_group_size=row_group_size)
    return path


def test_underpartitioned_scan_is_spread(spark, tmp_path):
    path = _write_parquet(tmp_path, "one.parquet", 10_000, row_group_size=10_000)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = fanout_small(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert out.count() == 10_000


def test_many_splits_one_row_group_is_spread(spark, tmp_path):
    # Force many byte-range splits over a single-row-group file: the split
    # count passes the naive check, but only one split carries the row
    # group — the footer check must still fire.
    path = _write_parquet(tmp_path, "giant_rg.parquet", 50_000, row_group_size=50_000)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        df = spark.read.parquet(path)
        target = spark.sparkContext.defaultParallelism
        assert df.rdd.getNumPartitions() >= target  # the naive check passes
        out = fanout_small(df)
        assert out.rdd.getNumPartitions() == target  # but the spread fired
        # and the spread partitions actually balance the rows
        from pyspark.sql import functions as F

        counts = [
            r["count"]
            for r in out.select(F.spark_partition_id().alias("p"))
            .groupBy("p")
            .count()
            .collect()
        ]
        assert len(counts) == target
        assert max(counts) - min(counts) <= 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_many_splits_many_row_groups_is_noop(spark, tmp_path):
    # Enough row groups for every split to carry rows: no repartition.
    path = _write_parquet(tmp_path, "many_rg.parquet", 50_000, row_group_size=5_000)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        df = spark.read.parquet(path)
        n_before = df.rdd.getNumPartitions()
        assert n_before >= spark.sparkContext.defaultParallelism
        out = fanout_small(df)
        assert out.rdd.getNumPartitions() == n_before  # untouched plan
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_failed_footer_probe_warns_once_and_keeps_plan(spark, tmp_path, monkeypatch):
    # The probe's failure must be visible, not silent, and the scan must
    # pass through untouched.
    import warnings

    from hadoop_spark.sources import tables

    def broken(*args, **kwargs):
        raise OSError("footer unreadable")

    path = _write_parquet(tmp_path, "probe.parquet", 50_000, row_group_size=50_000)
    monkeypatch.setattr(pq, "ParquetFile", broken)
    monkeypatch.setattr(tables, "_footer_probe_warned", False)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            outs = [fanout_small(df), fanout_small(df)]
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)
    assert all(out is df for out in outs)
    assert len(caught) == 1
    assert "OSError" in str(caught[0].message) and "footer unreadable" in str(caught[0].message)
