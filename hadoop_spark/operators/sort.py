"""Sort operators — the reference's load-bearing primitive.

Hadoop's shuffle ALWAYS sorts (`MapTask.java:889` MapOutputBuffer →
QuickSort → spill-merge); the library adds total-order sorting via sampled
range partitioning (`lib/partition/TotalOrderPartitioner.java:48` +
`InputSampler.java:57`) and secondary sort via composite keys + grouping
comparators (`EXAMPLES/SecondarySort.java:51`). Spark's `orderBy` runs the
identical design — reservoir-sample → range boundaries → per-partition sort —
inside RangePartitioner, so total order is one declarative call; secondary
sort is a window or a sortWithinPartitions.

Scale notes: `total_order` is the TeraSort shape — it scales because ranks
are never materialized globally; `ranked` (explicit global row_number) is the
small-result/correctness variant and is intentionally single-partition, the
same trade the reference makes with numReduceTasks(1) top-k jobs
(`Grep.java:88`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def total_order(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Globally sorted output (TeraSort parity): sampled range partitioning +
    per-partition sort; output file i is entirely ≤ file i+1."""
    return df.orderBy(*cols)


def ranked(df: DataFrame, *cols: Column | str, out: str = "rank") -> DataFrame:
    """Global rank attached to every row. Encodes the total order in the
    row values (for order-insensitive correctness checks). Single-partition
    window — use only on small/pre-aggregated results."""
    return df.withColumn(out, F.row_number().over(Window.orderBy(*cols)))


def secondary_sort(
    df: DataFrame, group: list[str], order: list[Column | str], out: str = "seq"
) -> DataFrame:
    """SecondarySort parity: within each group, values in secondary-key
    order, position exposed as ``out``. Partition-parallel (one window per
    group key — the reference's FirstPartitioner + FirstGroupingComparator,
    `SecondarySort.java:133,145`)."""
    w = Window.partitionBy(*group).orderBy(*order)
    return df.withColumn(out, F.row_number().over(w))


def top_k_per_group(
    df: DataFrame, group: list[str], order: list[Column | str], k: int, out: str = "rnk"
) -> DataFrame:
    """Deterministic per-group top-k (order spec must break ties)."""
    w = Window.partitionBy(*group).orderBy(*order)
    return df.withColumn(out, F.row_number().over(w)).filter(F.col(out) <= k)


def sorted_run_check(df: DataFrame, *cols: str) -> tuple[int, int]:
    """TeraValidate parity (`terasort/TeraValidate.java:52`): verify global
    order without collecting — per partition keep (first, last, is_sorted),
    then check boundaries on the tiny per-partition summary.

    Returns (num_partitions_checked, num_violations)."""
    sdf = df.select(*cols)
    dtypes = dict(sdf.dtypes)
    fields = ", ".join(f"{c}_{side} {dtypes[c]}" for side in ("first", "last") for c in cols)

    def summarize(it):
        import pandas as pd

        first = last = None
        ok = True
        prev = None
        for pdf in it:
            for t in pdf.itertuples(index=False, name=None):
                if first is None:
                    first = t
                if prev is not None and t < prev:
                    ok = False
                prev = t
            last = prev
        if first is None:
            return
        row = {f"{c}_first": [v] for c, v in zip(cols, first)}
        row.update({f"{c}_last": [v] for c, v in zip(cols, last)})
        row["ok"] = [ok]
        yield pd.DataFrame(row)

    parts = sdf.mapInPandas(summarize, f"{fields}, ok boolean").collect()
    violations = sum(0 if p.ok else 1 for p in parts)
    # RangePartitioner guarantees partition i ≤ partition i+1; collect()
    # returns partitions in order, so adjacent boundaries must not overlap.
    for i in range(len(parts) - 1):
        last_i = tuple(parts[i][f"{c}_last"] for c in cols)
        first_next = tuple(parts[i + 1][f"{c}_first"] for c in cols)
        if last_i > first_next:
            violations += 1
    return len(parts), violations


def global_rank(df: DataFrame, *cols: Column | str, out: str = "rank") -> DataFrame:
    """Scalable exact global rank: range-repartition on the sort key, rank
    WITHIN each partition, then add per-partition offsets (a tiny
    #partitions-row cumulative sum, broadcast back). Replaces the
    single-partition `Window.orderBy` global row_number — same result,
    but every stage stays partition-parallel at any scale. Requires
    `cols` to be a unique key (ties would make rank nondeterministic —
    same contract as the reference's TotalOrderPartitioner + position,
    `lib/partition/TotalOrderPartitioner.java:48`).

    The offset table is the only driver-adjacent data: O(#partitions)
    rows, the same cardinality the range sampler already handles."""
    from pyspark.sql import Window

    n = max(2, df.sparkSession.sparkContext.defaultParallelism)
    parted = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    # persist() pins ONE materialization of the range exchange: the sizes
    # branch and the main branch otherwise each plan their OWN exchange
    # (no ReuseExchange, verified empirically), and RangePartitioner
    # samples boundaries per-exchange — mismatched boundaries would join
    # offsets against the wrong partition ids, i.e. the pin is
    # CORRECTNESS-load-bearing while the returned frame is still lazy.
    # CACHE-LIFETIME CONTRACT (applies to global_rank /
    # global_running_sum / global_running_max alike): the entry lives
    # until session end because an in-operator unpersist would fire
    # before the lazy consumer runs. Callers running many queries in one
    # session should drain with spark.catalog.clearCache() AFTER
    # consuming results, at whatever cadence fits — perfbench's runner
    # clears per query (timing isolation), scripts/drive_contract.py
    # every 25 queries (adjacent queries legitimately reuse plan-equal
    # cached intermediates; a per-query clear measured ~20% slower for no
    # extra safety). Never clear while a result built on these operators
    # is still lazy. Entries are MEMORY_AND_DISK: worst case they spill,
    # never OOM.
    with_pid = parted.withColumn("__pid", F.spark_partition_id()).persist()
    sizes = with_pid.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "__pid", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    w_in = Window.partitionBy("__pid").orderBy(*cols)
    return (
        with_pid.join(F.broadcast(offsets), "__pid")
        .withColumn(out, (F.row_number().over(w_in) + F.col("__off")).cast("bigint"))
        .drop("__pid", "__off")
    )


def partition_by_key_slice(
    df: DataFrame, col: str, start: int, length: int, num_partitions: int
) -> DataFrame:
    """BinaryPartitioner parity (`lib/partition/BinaryPartitioner.java:71`):
    partition on a byte-range slice of the key, so records sharing a key
    PREFIX (or any fixed slice) co-locate — the trick the reference used
    for composite keys whose grouping prefix differs from the full sort
    key. `substring` is 1-indexed like the SQL function."""
    return df.repartition(num_partitions, F.substring(F.col(col), start, length))


def global_running_sum(
    df: DataFrame, value: Column | str, *cols: Column | str, out: str = "cum"
) -> DataFrame:
    """Scalable exact global PREFIX SUM of `value` in `cols` order: the
    two-level parallel-scan — range-repartition on the sort key, cumulative
    sum WITHIN each partition, then add per-partition total offsets (a tiny
    #partitions-row cumulative sum broadcast back). The distributed form of
    `SUM(x) OVER (ORDER BY ...)`, which Spark would otherwise execute as a
    SINGLE-partition window. Same contract as :func:`global_rank`: `cols`
    must be a unique key. `out` is the INCLUSIVE running total."""
    from pyspark.sql import Window

    v = F.col(value) if isinstance(value, str) else value
    n = max(2, df.sparkSession.sparkContext.defaultParallelism)
    parted = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    # Single pinned materialization of the range exchange — see
    # global_rank for why (independent exchanges may sample different
    # boundaries, mis-keying the offset join).
    with_pid = (
        parted.withColumn("__pid", F.spark_partition_id())
        .withColumn("__v", v)
        .persist()
    )
    sizes = with_pid.groupBy("__pid").agg(F.sum("__v").alias("__t"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "__pid", F.coalesce(F.sum("__t").over(w_off), F.lit(0)).alias("__off")
    )
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        with_pid.join(F.broadcast(offsets), "__pid")
        .withColumn(out, F.sum("__v").over(w_in) + F.col("__off"))
        .drop("__pid", "__off", "__v")
    )


def global_running_max(
    df: DataFrame,
    value: Column | str,
    *cols: Column | str,
    out: str = "runmax",
    inclusive: bool = False,
) -> DataFrame:
    """Scalable exact global PREFIX MAX of `value` in `cols` order — the
    distributed form of `MAX(x) OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING [AND 1 PRECEDING])`, which Spark would otherwise execute as
    a SINGLE-partition window over the whole table. Same two-level scan
    as :func:`global_running_sum`: range-repartition on the sort key,
    running max WITHIN each partition, then combine with the prefix max
    of the PRECEDING partitions' totals (a tiny #partitions-row window,
    broadcast back). `cols` must be a unique key.

    With ``inclusive=False`` (the default, the watermark-replay shape)
    the first global row gets NULL — no preceding row exists — exactly
    like the single-partition exclusive window it replaces."""
    from pyspark.sql import Window

    v = F.col(value) if isinstance(value, str) else value
    n = max(2, df.sparkSession.sparkContext.defaultParallelism)
    parted = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    # Single pinned materialization of the range exchange — see
    # global_rank for why.
    with_pid = (
        parted.withColumn("__pid", F.spark_partition_id())
        .withColumn("__v", v)
        .persist()
    )
    totals = with_pid.groupBy("__pid").agg(F.max("__v").alias("__t"))
    # Prefix max over partitions STRICTLY BEFORE pid: O(#partitions) rows.
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select("__pid", F.max("__t").over(w_off).alias("__off"))
    upper = 0 if inclusive else -1
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    # greatest() skips NULLs: first row of a partition has NULL within-max
    # (exclusive mode) and partition 0 has NULL offset; only the very
    # first global row ends up NULL overall — matching the exclusive
    # single-partition window's semantics exactly.
    return (
        with_pid.join(F.broadcast(offsets), "__pid")
        .withColumn(out, F.greatest(F.max("__v").over(w_in), F.col("__off")))
        .drop("__pid", "__off", "__v")
    )
