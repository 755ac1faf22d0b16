"""SparkSession factory.

Replaces the reference's job-submission machinery (Job/JobSubmitter/MRAppMaster,
`hadoop-mapreduce-client-core/.../mapreduce/Job.java`,
`JobSubmitter.java:138`) with a single tuned SparkSession: the "cluster" is
configured once, queries are lazy DataFrame plans, and Catalyst + AQE replace
the hand-wired per-job configuration knobs (io.sort.mb, combiner classes,
speculative execution flags — all built into Spark).

Scale notes (targets a 1000-executor cluster even though tests run local):
- AQE on: runtime partition coalescing, skew-join splitting, dynamic
  join-strategy switch — replaces the reference's RehashPartitioner and
  hand-tuned reduce counts.
- shuffle.partitions defaults to cores locally; on a real cluster this is
  overridden by AQE coalescing from `adaptive.coalescePartitions`.
- Arrow enabled: every Python-boundary crossing (pandas UDFs, toPandas) is
  batched, the analogue of the reference's typed-bytes streaming protocol
  (`hadoop-streaming/.../typedbytes/TypedBytesInput.java:34`) but columnar.
- Session timezone pinned UTC so timestamp semantics are stable across
  engines (and match the DuckDB oracle).

Driver JVM start-up (the reference's answer to JVM start cost was uber mode
and JVM reuse, `MRJobConfig.java:662`): the JVM that ``get_session`` starts
maps a class-data-sharing archive of the ~12-14 k Spark classes it would
otherwise load one by one, which roughly halves ``get_session`` plus the
first action (``cds.py`` has the lifecycle). There is no option for it.
- The cache is ``$XDG_CACHE_HOME/hadoop_spark/cds/`` (``~/.cache/...`` when
  unset): one archive of ~140-220 MB per JDK build, Spark jar set and
  driver classpath setting, plus an empty directory used as
  ``SPARK_CONF_DIR``.
- The first start after a JDK or Spark change is a cold run: its JVM
  records the classes it loads, which makes that session start up to 2×
  slower. At exit the process waits ~10 s for its JVM to write the
  archive, checks it and publishes it. If that dump leaves no archive (the
  process or its JVM was killed), later starts go without CDS for that
  key rather than dump again.
- CDS is declined when ``SPARK_CONF_DIR``, ``HADOOP_CONF_DIR``,
  ``YARN_CONF_DIR`` or ``SPARK_DIST_CLASSPATH`` is set, when the default
  conf dir holds any file but ``*.template``, or when a JVM already runs in
  this process (pyspark reuses it for every later session), and after a
  failed dump as above.
- ``jvm_start_info()`` tells what happened. A rejected or damaged archive
  never fails a session: it is reported with a warning, removed, and
  written afresh. To clear the cache: ``rm -r ~/.cache/hadoop_spark/cds``.
- Sessions built without ``get_session`` (the external driver's vanilla
  session in ``scripts/drive_contract.py``) are unaffected.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from hadoop_spark import cds

def get_session(
    app_name: str = "hadoop_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine session.

    On a real cluster ``master`` comes from spark-submit; locally we default to
    ``local[$SPARK_GRAFT_CPUS]`` (all cores if unset).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        ncores = os.cpu_count() or 8
        shuffle_partitions = int(cpus) if cpus.isdigit() else ncores

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # 128 MiB input partitions — same placement unit as the reference's
        # HDFS block (HdfsClientConfigKeys.java:32).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # Spark 4.1's unix-domain-socket transport for Python workers stalls
        # worker handoff under concurrent grouped-Python stages (tasks wait
        # tens of seconds in ReaderInputStream.read while workers sit idle
        # in recv) — measured 5-20x wall-clock inflation on the blocked-GEMM
        # cogroup. TCP transport has none of this.
        .config("spark.python.unix.domain.socket.enabled", "false")
    )
    conf = dict(extra_conf or {})
    # One JVM serves every session of a Python process; CDS applies only when
    # this call starts it.
    new_jvm = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    if new_jvm:
        opts = cds.java_options(conf.get("spark.driver.extraClassPath", ""))
        if opts:
            # defaultJavaOptions, so a caller's extraJavaOptions cannot drop them
            key = "spark.driver.defaultJavaOptions"
            conf[key] = f"{opts} {conf.get(key, '')}".rstrip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if new_jvm:
        cds.record_start(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def jvm_start_info() -> dict:
    """How the driver JVM of this process started: ``archive`` (path or None),
    ``mode`` (``dump`` | ``use`` | ``declined``), ``mapped`` (the JVM really
    mapped the archive, read from its ``-Xlog:cds`` file) and ``reason``."""
    return {k: cds.status[k] for k in ("archive", "mode", "mapped", "reason")}
