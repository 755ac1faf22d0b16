"""Canonical test-table loaders.

The reference's "table" is a directory of files on a DFS read through an
InputFormat (`FileInputFormat.getSplits`,
`hadoop-mapreduce-client-core/.../lib/input/FileInputFormat.java:438`); here a
table is a parquet path and the DataSource framework computes the splits.
Column pruning + predicate pushdown reach the scan automatically — the
capability the reference had to hand-build per-format
(`SequenceFileInputFilter.java:49`).

In Hadoop the record schema comes with the file; Spark instead runs a
one-task job to read the footer whenever a parquet read is given no schema.
`load_table` therefore infers a local file's schema once and afterwards
passes it to `spark.read.schema(...)`, so repeat loads start no job:

- key: the file's `(st_dev, st_ino, st_size, st_mtime_ns)` plus the session
  confs that decide the parquet→Spark type mapping (`_SCHEMA_CONFS`); a
  rewritten file or a flipped conf misses and is inferred again, and the
  dict is keyed by path, so the new entry replaces the old one;
- bypass: whatever `os.stat` does not show as a regular file (directories,
  URIs, missing paths) is inferred on every call, as `spark.read.parquet`
  does;
- only `StructType`s are kept, never DataFrames, so nothing is bound to one
  session.
"""

from __future__ import annotations

import os
import stat
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables a planner should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def _prep(spark: SparkSession) -> None:
    """Session invariants every query relies on, applied defensively so the
    catalog behaves identically under a caller-provided session (the driver
    builds its own): UTC timestamp semantics (matches the oracle's naive
    timestamps) and ns-timestamp parquet tolerance."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


# The session confs Spark 4.1's parquet schema inference reads
# (`ParquetFileFormat.mergeSchemasInParallel`).
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)

# path -> (file identity + _SCHEMA_CONFS values, inferred schema)
_schemas: dict[str, tuple[tuple, StructType]] = {}


def _file_identity(path: str) -> tuple[int, int, int, int] | None:
    """`(st_dev, st_ino, st_size, st_mtime_ns)` of a local regular file, or
    None for anything else: a directory, a URI (`hdfs://…`, `file:…`) or a
    path `os.stat` cannot read."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` that infers a local file's schema once
    (see the module docstring for the cache contract)."""
    ident = _file_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    key = ident + tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    hit = _schemas.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _schemas[path] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _prep(spark)
    if name == "events":
        return _load_events(spark, sf_dir)
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize `events.ts` to session-TZ TIMESTAMP whatever the fixture's
    physical type. The current fixtures store parquet `timestamp[us]` with
    `isAdjustedToUTC=false`, which Spark 4 reads as TIMESTAMP_NTZ — a type
    `F.unix_micros` and window functions reject. With the session timezone
    pinned to UTC (see `_prep`) the NTZ→TIMESTAMP cast is value-preserving
    and matches the oracle's naive-UTC timestamps bit-for-bit. A legacy
    TIMESTAMP(NANOS) fixture (read as int64 via the nanosAsLong conf) is
    truncated ns→µs exactly as DuckDB/Arrow narrow it."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    df = _read_parquet(spark, f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


_footer_probe_warned = False


def fanout_small(df: DataFrame) -> DataFrame:
    """Spread a small-file scan across the cluster for CPU-heavy map work.

    A table far smaller than `spark.sql.files.maxPartitionBytes` arrives as
    ONE input split, which serializes expensive per-row compute (hashing,
    shingling, vector math) onto a single core — the NLineInputFormat
    problem (`lib/input/NLineInputFormat.java:63`: parallelism control, not
    semantics). Repartition up to default parallelism only when the scan is
    under-split; at real scale inputs already carry enough splits and this
    is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    # r11: the split COUNT can lie for parquet — a byte-range split only
    # yields rows when a row-group midpoint falls inside it, so a file
    # with a few giant row groups scans on a few cores no matter how many
    # splits the planner packs (measured on the x100 probe replica:
    # 32 splits over one 140 MB file with 2 row groups put 14.4 M of 15 M
    # rows in ONE task and made poisson_bootstrap_ci x439 super-linear).
    # Total row-group count is the true upper bound on scan parallelism;
    # it lives in the file footers — driver-side metadata, one read per
    # file, capped so a many-file table (whose parallelism is fine anyway)
    # never pays a listing storm. Non-parquet/remote inputs skip the check.
    try:
        files = df.inputFiles()
        if 0 < len(files) <= 64 and all(f.endswith(".parquet") for f in files):
            import pyarrow.parquet as pq

            total_rgs = 0
            for f in files:
                path = f[7:] if f.startswith("file://") else f
                total_rgs += pq.ParquetFile(path).metadata.num_row_groups
                if total_rgs >= target:
                    break
            if total_rgs < target:
                return df.repartition(target)
    except Exception as e:  # noqa: BLE001 — a heuristic must never fail the query
        global _footer_probe_warned
        if not _footer_probe_warned:
            _footer_probe_warned = True
            warnings.warn(
                f"fanout_small: parquet footer probe failed ({type(e).__name__}: {e}); "
                "giant-row-group scans are no longer spread",
                RuntimeWarning,
                stacklevel=2,
            )
    return df


def shared(df: DataFrame) -> DataFrame:
    """Persist an intermediate that multiple plan branches consume.

    A DataFrame referenced from several branches of one query (e.g. both
    sides of a self-join, candidate generation + verification) is otherwise
    RECOMPUTED per branch — Spark shares shuffle exchanges, not arbitrary
    subplans. For expensive map-side work (signatures, shingles, quantized
    vectors) persist once and read many: MEMORY_AND_DISK so it spills
    instead of OOMing at scale. The 100 TB version of the same decision is
    materializing the signature table to storage before the self-join.

    When NOT to use it (measured, r7): AQE's stage cache already reuses
    identical shuffle map stages at runtime, so a frame whose lineage ends
    in an exchange and is consumed by only TWO branches often runs FASTER
    unpersisted — the cache materialization barrier costs more than the
    reduce-side recompute it saves (kcore_peel 3.5→1.9 s, rfm_segmentation
    1.5 vs 2.6 s). Persist wins decisively for 3+ consumers, driver-loop
    iteration state, and self-joins over expensive map-side work
    (triangle_count 28→5.9 s, pagerank 17→9.6 s, kmeans_iterate −2.5 s,
    bfs_hops −2.4 s, label_propagation −2.2 s without it).

    CAVEAT (x30-validated): bench-scale timings only settle the question
    for exchange-deduped JVM subtrees. A frame built by expensive work
    the stage cache can NOT dedupe — a Python cogroup / blocked GEMM
    feeding differently-keyed consumers — needs its persist even when
    sf0.1 says otherwise: dbscan_core_flags measured 0.8 s FASTER
    unpersisted at sf0.1 but 2.3-2.7× SLOWER at x30 data. Measure before
    flipping either way, and A/B at x30 when the subtree crosses the
    Python boundary."""
    from pyspark import StorageLevel

    return df.persist(StorageLevel.MEMORY_AND_DISK)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TABLE_NAMES
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for the SQL entry points."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
