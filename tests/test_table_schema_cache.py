"""`load_table`'s parquet schema cache (sources/tables.py): a repeat load
starts no Spark job, and every load gives the schema an uncached
`spark.read.parquet` gives — after a rewrite, after a conf flip, for
directories, URIs, missing paths and concurrent first loads."""

from __future__ import annotations

import os
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import StructField, StructType, TimestampType

from hadoop_spark.sources import tables
from hadoop_spark.sources.tables import TABLE_NAMES, load_table
from tests.conftest import SF_DIR


def _jobs_started(spark, fn):
    """Run `fn()` under a fresh job group; return its result and the number
    of Spark jobs it started."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema cache test")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _uncached_schema(spark, name: str) -> StructType:
    schema = spark.read.parquet(f"{SF_DIR}/{name}.parquet").schema
    if name != "events":
        return schema
    # load_table normalises events.ts to session-UTC TIMESTAMP
    return StructType(
        [
            StructField(f.name, TimestampType(), f.nullable, f.metadata)
            if f.name == "ts"
            else f
            for f in schema.fields
        ]
    )


def test_uncached_read_starts_a_job(spark):
    """The premise: a parquet read given no schema runs an inference job."""
    _, jobs = _jobs_started(
        spark, lambda: spark.read.parquet(f"{SF_DIR}/region.parquet")
    )
    assert jobs >= 1


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_repeat_load_starts_no_job(spark, name):
    load_table(spark, SF_DIR, name)
    df, jobs = _jobs_started(spark, lambda: load_table(spark, SF_DIR, name))
    assert jobs == 0
    assert df.schema == _uncached_schema(spark, name)


def test_rewrite_gives_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    ino = os.stat(path).st_ino
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    # rewritten in place: same path, same inode, new schema
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    assert os.stat(path).st_ino == ino
    df = load_table(spark, str(tmp_path), "t")
    assert df.schema == spark.read.parquet(str(path)).schema
    assert df.columns == ["b", "c"]
    assert df.collect()[0].asDict() == {"b": "x", "c": 1.5}


@pytest.mark.parametrize("shape", ["directory", "file_uri"])
def test_bypassed_paths_are_inferred_every_time(spark, tmp_path, shape):
    data = spark.range(5).selectExpr("id", "cast(id as string) AS s")
    if shape == "directory":
        sf_dir = str(tmp_path)
        data.write.parquet(f"{sf_dir}/d.parquet")
    else:
        pq.write_table(pa.Table.from_pandas(data.toPandas()), tmp_path / "d.parquet")
        sf_dir = f"file://{tmp_path}"
    path = f"{sf_dir}/d.parquet"
    for _ in range(2):
        df, jobs = _jobs_started(spark, lambda: load_table(spark, sf_dir, "d"))
        assert jobs >= 1
        assert df.schema == spark.read.parquet(path).schema
    assert path not in tables._schemas


def test_missing_path_raises_as_uncached(spark, tmp_path):
    with pytest.raises(AnalysisException) as want:
        spark.read.parquet(str(tmp_path / "nope.parquet"))
    for _ in range(2):
        with pytest.raises(AnalysisException) as got:
            load_table(spark, str(tmp_path), "nope")
        assert got.value.getCondition() == want.value.getCondition()
        assert str(got.value) == str(want.value)


def test_binary_as_string_flip(spark, tmp_path):
    path = tmp_path / "b.parquet"
    pq.write_table(pa.table({"k": [1], "blob": pa.array([b"hi"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    try:
        for value in ("false", "true", "false"):
            spark.conf.set(conf, value)
            got = load_table(spark, str(tmp_path), "b").schema
            assert got == spark.read.parquet(str(path)).schema
            assert got["blob"].dataType.simpleString() == (
                "string" if value == "true" else "binary"
            )
    finally:
        spark.conf.set(conf, before)


def test_concurrent_first_loads_agree(spark):
    tables._schemas.clear()

    def load_all():
        return [load_table(spark, SF_DIR, n).schema for n in TABLE_NAMES]

    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(lambda _: load_all(), range(4)))
    want = [_uncached_schema(spark, n) for n in TABLE_NAMES]
    assert all(r == want for r in results)
