"""Dynamic partition overwrite: only the partitions present in the
incoming data may be replaced — untouched partitions' files must survive
byte-for-byte (at 100 TB this is "rewrite one day's slice", never
"rewrite the table")."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hadoop_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _files(root: str, part: str) -> dict[str, tuple[int, float]]:
    d = os.path.join(root, f"event_type={part}")
    return {
        f: (os.path.getsize(os.path.join(d, f)), os.path.getmtime(os.path.join(d, f)))
        for f in sorted(os.listdir(d))
        if f.endswith(".parquet")
    }


def test_dynamic_overwrite_leaves_other_partitions_alone(spark, tmp_path):
    path = str(tmp_path / "po_events")
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "event_type", F.col("value").cast("decimal(18,4)").alias("value")
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)

    before_other = _files(path, "purchase")
    before_error = _files(path, "error")
    assert before_other and before_error

    # the writer option, as the engine uses it: the session conf (static by
    # default) must neither be needed nor be changed
    session_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    (
        ev.filter(F.col("event_type") == "error")
        .withColumn("value", (F.col("value") * 2).cast("decimal(18,4)"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(path)
    )
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == session_mode

    # untouched partition: identical file set, sizes, and mtimes
    assert _files(path, "purchase") == before_other
    # overwritten partition: new files (names or stats must differ)
    assert _files(path, "error") != before_error

    # table state: error doubled, others original
    back = spark.read.parquet(path)
    orig = ev.groupBy("event_type").agg(F.sum("value").alias("s"))
    got = back.groupBy("event_type").agg(F.sum("value").alias("s"))
    o = {r["event_type"]: r["s"] for r in orig.collect()}
    g = {r["event_type"]: r["s"] for r in got.collect()}
    for k, v in o.items():
        assert g[k] == (v * 2 if k == "error" else v), k
