"""Sort / partition queries (SURVEY §2.6): total-order sort (TeraSort),
secondary sort, per-group and global top-k, key-field comparator sorting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_spark.operators.sort import global_rank, secondary_sort, top_k_per_group, total_order
from hadoop_spark.plans.catalog import query
from hadoop_spark.sources.tables import load_table, shared

# Oracle checks MULTISET equality (SortValidator.java:54 semantics: output ≡
# input as a multiset); global ORDER is asserted by the partition-boundary
# invariant test in tests/test_sort_invariants.py (TeraValidate.java:52
# semantics) — the driver's hash is order-insensitive so order can't be
# encoded here.
_TOTAL_ORDER_ORACLE = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
"""


@query("total_order_sort", _TOTAL_ORDER_ORACLE)
def total_order_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TeraSort shape: sampled range partitioning + per-partition sort.
    Scales: no global window, no single-reducer stage."""
    li = load_table(spark, sf_dir, "lineitem")
    return total_order(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        F.desc("l_extendedprice"),
        "l_orderkey",
        "l_linenumber",
    )


_RANK_ORACLE = """
SELECT o_orderkey, o_totalprice,
       CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rank
FROM orders
WHERE o_orderstatus = 'F'
"""


@query("total_order_rank", _RANK_ORACLE)
def total_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global rank attached to rows — encodes the total order into the
    (order-insensitive) correctness hash. Uses the scalable partition-offset
    rank (operators/sort.py global_rank): range partition, rank within, add
    broadcast offsets — no single-partition window at any scale."""
    from hadoop_spark.operators.sort import global_rank

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return global_rank(
        orders.select("o_orderkey", "o_totalprice"),
        F.desc("o_totalprice"),
        "o_orderkey",
        out="rank",
    )


_SECONDARY_ORACLE = """
SELECT l_orderkey, l_linenumber, l_shipdate,
       CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
                               ORDER BY l_shipdate, l_linenumber) AS BIGINT) AS seq
FROM lineitem
"""


@query("secondary_sort", _SECONDARY_ORACLE)
def secondary_sort_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SecondarySort parity (`EXAMPLES/SecondarySort.java:51`): group by
    orderkey, values in (shipdate, linenumber) order. Window partitioned by
    the group key — parallel across groups, no global bottleneck."""
    li = load_table(spark, sf_dir, "lineitem")
    out = secondary_sort(
        li.select("l_orderkey", "l_linenumber", "l_shipdate"),
        ["l_orderkey"],
        ["l_shipdate", "l_linenumber"],
        out="seq",
    )
    return out.withColumn("seq", F.col("seq").cast("bigint"))


_TOPK_GROUP_ORACLE = """
SELECT * FROM (
  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                 ORDER BY l_extendedprice DESC,
                                          l_orderkey, l_linenumber) AS BIGINT) AS rnk
  FROM lineitem
) WHERE rnk <= 5
"""


@query("topk_per_group", _TOPK_GROUP_ORACLE)
def topk_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 line items by price per return flag, deterministic tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    out = top_k_per_group(
        li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
        ["l_returnflag"],
        [F.desc("l_extendedprice"), "l_orderkey", "l_linenumber"],
        5,
        out="rnk",
    )
    return out.withColumn("rnk", F.col("rnk").cast("bigint"))


_GLOBAL_TOPK_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


@query("global_topk", _GLOBAL_TOPK_ORACLE)
def global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy + limit → Spark plans TakeOrderedAndProject: per-partition
    top-25 heaps merged at the driver, no global sort — the scalable top-k
    the reference approximates with a single sorted reducer."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select("o_orderkey", "o_totalprice").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    ).limit(25)


_KEYFIELD_ORACLE = """
WITH parsed AS (
  SELECT line,
         CAST(string_split(line, ' ')[2] AS DOUBLE) AS f2,
         string_split(line, ' ')[1] AS f1
  FROM (SELECT concat(l_linestatus, ' ', CAST(l_quantity AS VARCHAR), ' ',
               CAST(l_orderkey AS VARCHAR), ':', CAST(l_linenumber AS VARCHAR)) AS line
        FROM lineitem)
)
SELECT line, CAST(ROW_NUMBER() OVER (ORDER BY f2 DESC, f1, line) AS BIGINT) AS rank
FROM parsed
"""


@query("keyfield_sort", _KEYFIELD_ORACLE)
def keyfield_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KeyFieldBasedComparator parity (`lib/partition/KeyFieldBasedComparator
    .java:53`): Unix sort -k2,2nr -k1,1 over delimited lines — field slice,
    numeric interpretation, reverse flag. Ranks via the scalable
    partition-offset `global_rank` (range repartition + per-partition
    row_number + broadcast offsets) — no single-partition window, so the
    plan holds on full-size line sets, not just pre-aggregated ones
    (plan shape gated in tests/test_plan_quality.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select(
        F.concat_ws(
            " ",
            "l_linestatus",
            F.col("l_quantity").cast("string"),
            F.concat_ws(":", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")),
        ).alias("line")
    )
    parts = F.split(F.col("line"), " ")
    parsed = lines.select(
        "line",
        F.element_at(parts, 2).cast("double").alias("f2"),
        F.element_at(parts, 1).alias("f1"),
    )
    out = global_rank(parsed, F.desc("f2"), "f1", "line", out="rank")
    return out.select("line", F.col("rank").cast("bigint").alias("rank"))


_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS VARCHAR)
            AS DOUBLE) AS running_spend,
       CAST(epoch_us(o_orderdate) - epoch_us(LAG(o_orderdate) OVER w) AS BIGINT)
         AS us_since_prev
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("running_totals", _RUNNING_ORACLE)
def running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-analytics family (row_number / running sum / lag) per
    customer in order-date order — the per-group sequential consumption
    the reference could only express as a secondary-sort reducer
    (`EXAMPLES/SecondarySort.java:51`), here one window spec, one shuffle,
    decimal-quantized running sum so every prefix is bit-exact."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("bigint").alias("order_seq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
        (
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            - F.unix_micros(F.lag("o_orderdate").over(w).cast("timestamp"))
        ).alias("us_since_prev"),
    )


def _zorder_oracle() -> str:
    from hadoop_spark.functions.numeric import dsum_sql
    from hadoop_spark.operators.layout import zvalue2_sql

    z = zvalue2_sql("o_custkey", "o_orderkey // 16")
    return f"""
SELECT ({z} % 64) AS zb,
       CAST(COUNT(*) AS BIGINT) AS n,
       {dsum_sql('o_totalprice')} AS sum_price
FROM orders GROUP BY 1
"""


@query("zorder_layout", _zorder_oracle())
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered layout — the multi-dimensional upgrade of
    TotalOrderPartitioner's single-key ranges (`lib/partition/
    TotalOrderPartitioner.java:54`): orders are written clustered by the
    bit-interleave of (o_custkey, o_orderkey/16), so parquet min/max stats
    prune selective scans on EITHER column (gated in tests/test_layout.py).
    The query re-reads the clustered copy and aggregates by z-bucket,
    oracle-checking the Morton arithmetic and the write→read round trip."""
    import os

    from hadoop_spark.functions.numeric import dsum
    from hadoop_spark.operators.layout import write_zordered, zvalue2

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(repo, ".tmp", "zorder", tag, "orders")

    orders = load_table(spark, sf_dir, "orders")
    write_zordered(
        orders, path, F.col("o_custkey"), F.col("o_orderkey") / 16, num_files=16
    )
    back = spark.read.parquet(path)
    z = zvalue2(F.col("o_custkey"), F.floor(F.col("o_orderkey") / 16))
    return (
        back.withColumn("zb", z % 64)
        .groupBy("zb")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("o_totalprice")).alias("sum_price"))
    )


# ----------------------------------------------------------------------
# range_boundaries — the TotalOrderPartitioner's sampling pass as a
# first-class query (`lib/partition/InputSampler.java` writes exactly
# this artifact): 31 balanced cut points over the sort key, computed as
# EXACT nearest-rank quantiles from one value-histogram shuffle rather
# than a driver-side sample. Feeding these boundaries to a range
# repartition yields the balanced total order the probe sampler
# approximates — and the histogram form is deterministic, so the planner
# artifact is reproducible run-over-run (a sampled one is not). Output:
# boundary index, cut value (integer cents), exact cumulative row count.
# ----------------------------------------------------------------------

_RB_PARTS = 32


def _range_boundaries_oracle() -> str:
    from hadoop_spark.operators.stats import group_quantiles_sql

    qs = {f"b{i}": i / _RB_PARTS for i in range(1, _RB_PARTS)}
    arms = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS boundary, b{i} AS cut_cents FROM rb"
        for i in range(1, _RB_PARTS)
    )
    return f"""
WITH src AS (
  SELECT 1 AS g,
         CAST(CAST(o_totalprice * 100 AS DECIMAL(38,0)) AS BIGINT) AS cents
  FROM orders
),
{group_quantiles_sql("src", "g", "cents", qs, "rb")},
b AS (
{arms}
),
h AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM src GROUP BY cents)
SELECT b.boundary, b.cut_cents,
       CAST((SELECT SUM(c) FROM h WHERE h.cents <= b.cut_cents) AS BIGINT)
         AS rows_below
FROM b
"""


@query("range_boundaries", _range_boundaries_oracle())
def range_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_spark.operators.stats import group_quantiles

    orders = load_table(spark, sf_dir, "orders")
    src = orders.select(
        F.lit(1).alias("g"),
        (F.col("o_totalprice") * 100)
        .cast("decimal(38,0)")
        .cast("bigint")
        .alias("cents"),
    )
    src = shared(src)
    qs = {f"b{i}": i / _RB_PARTS for i in range(1, _RB_PARTS)}
    cuts = group_quantiles(src, "g", "cents", qs)
    b = cuts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("boundary"),
                        F.col(f"b{i}").alias("cut_cents"),
                    )
                    for i in range(1, _RB_PARTS)
                ]
            )
        ).alias("s")
    ).select("s.boundary", "s.cut_cents")
    from pyspark.sql import Window as W

    h = src.groupBy("cents").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # cumulative histogram (bounded by distinct key values); each cut IS a
    # data value (nearest-rank), so rows_below is an equi-join lookup —
    # no inequality join over the histogram
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, 0)
    cum = h.select(
        F.col("cents").alias("cut_cents"),
        F.sum("c").over(w).cast("bigint").alias("rows_below"),
    )
    return b.join(F.broadcast(cum), "cut_cents").select(
        "boundary", "cut_cents", "rows_below"
    )


# ----------------------------------------------------------------------
# bucket_skew_advisor — the hash-bucketing companion to
# `range_boundaries`: before committing a bucketed layout
# (`sources/bucketed.py`), sweep candidate bucket counts N ∈ {8,16,32,64}
# in ONE fact pass (the `predicate_sweep` pattern) and report each N's
# occupancy imbalance — max/mean bucket size as an exact rational — over
# the portable key hash. The advisor output is what picks N so the
# co-located join's biggest task stays bounded. Integer counting; one
# explode (|rows|·4) into partial-aggregated (N, bucket) counts.
# ----------------------------------------------------------------------

_BSA_NS = [8, 16, 32, 64]


def _bucket_skew_oracle() -> str:
    from hadoop_spark.functions.hashing import portable_hash64_sql

    h = portable_hash64_sql("l_orderkey", salt="#bk")
    arms = "\n  UNION ALL\n".join(
        f"  SELECT {n} AS n_buckets, CAST({h} % {n} AS BIGINT) AS bucket"
        " FROM lineitem"
        for n in _BSA_NS
    )
    return f"""
WITH pairs AS (
{arms}
),
bc AS (
  SELECT n_buckets, bucket, CAST(COUNT(*) AS BIGINT) AS c
  FROM pairs GROUP BY 1, 2
)
SELECT CAST(n_buckets AS BIGINT) AS n_buckets,
       CAST(COUNT(*) AS BIGINT) AS occupied,
       CAST(MAX(c) AS BIGINT) AS max_bucket,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(MAX(c) AS DOUBLE) * CAST(n_buckets AS DOUBLE)
         / CAST(SUM(c) AS DOUBLE) AS imbalance
FROM bc GROUP BY n_buckets
"""


@query("bucket_skew_advisor", _bucket_skew_oracle())
def bucket_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_spark.functions.hashing import portable_hash64

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    h = portable_hash64(F.col("l_orderkey"), salt="#bk")
    pairs = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("n_buckets"),
                        (h % n).cast("bigint").alias("bucket"),
                    )
                    for n in _BSA_NS
                ]
            )
        ).alias("p")
    ).select("p.n_buckets", "p.bucket")
    bc = pairs.groupBy("n_buckets", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # r10 audit: raw IEEE imbalance ratio of exact int64 bucket counts.
    imb = (
        F.col("max_bucket").cast("double")
        * F.col("n_buckets").cast("double")
        / F.col("n_rows").cast("double")
    )
    agg = bc.groupBy(F.col("n_buckets").cast("bigint").alias("n_buckets")).agg(
        F.count(F.lit(1)).cast("bigint").alias("occupied"),
        F.max("c").cast("bigint").alias("max_bucket"),
        F.sum("c").cast("bigint").alias("n_rows"),
    )
    return agg.select(
        "n_buckets", "occupied", "max_bucket", "n_rows", imb.alias("imbalance")
    )


# ----------------------------------------------------------------------
# shipment_sequence_audit — sequence-compliance check per order: were
# the lineitems shipped in linenumber order? (The warehouse invariant a
# fulfilment system is supposed to hold; its violation rate is an ops
# metric.) One keyed window computes per-line "out of order" flags
# (shipday strictly earlier than a PRIOR linenumber's shipday), one
# aggregation rolls them up per priority bucket. Integer day math; the
# share is a single quantized division of exact counts.
# ----------------------------------------------------------------------

_SHIP_SEQ_ORACLE = """
WITH l AS (
  SELECT l_orderkey, l_linenumber,
         CAST(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000
              AS BIGINT) AS sd
  FROM lineitem
),
flags AS (
  SELECT l_orderkey,
         CASE WHEN sd < MAX(sd) OVER (
               PARTITION BY l_orderkey ORDER BY l_linenumber, sd
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) THEN 1 ELSE 0 END AS ooo
  FROM l
),
per_order AS (
  SELECT l_orderkey, MAX(ooo) AS violated FROM flags GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderpriority, p.violated
  FROM per_order p JOIN orders o ON p.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(violated) AS BIGINT) AS n_violating,
       CAST(SUM(violated) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS violation_share
FROM j GROUP BY o_orderpriority
"""


@query("shipment_sequence_audit", _SHIP_SEQ_ORACLE)
def shipment_sequence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sd = F.floor(
        F.unix_micros(F.col("l_shipdate").cast("timestamp")) / 86_400_000_000
    ).cast("bigint")
    # the synthetic fixture's (orderkey, linenumber) is NOT unique —
    # ordering additionally on sd makes the running max total-order-safe
    # (ties in (linenumber, sd) cannot change a strict-< flag)
    w = (
        W.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "sd")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    li2 = li.select("l_orderkey", "l_linenumber", sd.alias("sd"))
    flags = li2.select(
        "l_orderkey",
        "sd",
        F.max("sd").over(w).alias("prev_max"),
    ).select(
        "l_orderkey",
        F.when(
            F.col("prev_max").isNotNull() & (F.col("sd") < F.col("prev_max")), 1
        )
        .otherwise(0)
        .alias("ooo"),
    )
    per_order = flags.groupBy("l_orderkey").agg(F.max("ooo").alias("violated"))
    j = per_order.join(
        orders.select("o_orderkey", "o_orderpriority"),
        per_order.l_orderkey == F.col("o_orderkey"),
    )
    # r10 audit: raw IEEE share of exact int64 counts.
    share = F.col("n_violating").cast("double") / F.col("n_orders").cast(
        "double"
    )
    agg = j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("violated").cast("bigint").alias("n_violating"),
    )
    return agg.select(
        "o_orderpriority", "n_orders", "n_violating", share.alias("violation_share")
    )


# ----------------------------------------------------------------------
# binary_partition_slice — BinaryPartitioner as a driver-checkable result
# (`lib/partition/BinaryPartitioner.java:71`): partition on a byte-range
# SLICE of the key so records sharing the slice co-locate (composite keys
# whose grouping prefix differs from the full sort key). Two observables
# in one result: per-slice row counts (content — the oracle recomputes
# them from the table) and per-slice distinct-partition counts (the
# co-location invariant — MUST be 1; computed by a real distributed
# aggregation over spark_partition_id(), so a broken partitioner returns
# 2+ and hash-mismatches the oracle's literal 1).
# ----------------------------------------------------------------------

_BINPART_ORACLE = """
SELECT l_returnflag || l_linestatus AS key_slice,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_partitions
FROM lineitem
GROUP BY 1
"""


@query("binary_partition_slice", _BINPART_ORACLE)
def binary_partition_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-slice partitioning; result = per-slice counts + co-location."""
    from hadoop_spark.operators.sort import partition_by_key_slice

    li = load_table(spark, sf_dir, "lineitem").select(
        F.concat(
            F.col("l_returnflag"),
            F.col("l_linestatus"),
            F.col("l_orderkey").cast("string"),
        ).alias("key")
    )
    parted = partition_by_key_slice(li, "key", 1, 2, 8)
    return (
        parted.select(
            F.substring("key", 1, 2).alias("key_slice"),
            F.spark_partition_id().alias("pid"),
        )
        .groupBy("key_slice")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("pid").cast("bigint").alias("n_partitions"),
        )
    )


# Oracle pins the sorted-reduce-input contract (`MapTask.java`'s
# sort/spill + `ReduceTask`'s merged iterator — every reducer sees its
# keys in sort order, each key entirely in one partition): order_violations
# is a LITERAL 0, and n_keys is the SUM of per-partition local distincts,
# which equals COUNT(DISTINCT) iff no key is split across partitions
# (HashPartitioner co-location). n_rows keeps the row content-derived.
_SORTED_INPUT_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_keys,
       CAST(0 AS BIGINT) AS order_violations
FROM lineitem
"""


@query("sorted_input_validate", _SORTED_INPUT_ORACLE)
def sorted_input_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition sorted reduce input as a driver-checkable observable.

    MapReduce guarantees every reduce task reads its input grouped by key
    in key-sorted order. The Spark equivalent is
    ``repartition(key).sortWithinPartitions(key, ...)``; this query
    MEASURES the physical layout that produces, streaming each partition
    once through an Arrow-batched summarizer (same idiom as
    ``operators/sort.sorted_run_check`` / TeraValidate.java:52):

    - ``order_violations``: adjacent-pair inversions of the full sort key
      (l_suppkey, l_orderkey, l_linenumber) in physical row order — the
      oracle pins 0, so a hash match proves the within-partition order;
    - ``n_keys``: sum of per-partition local distinct-key counts — equals
      the oracle's global COUNT(DISTINCT) iff the hash partitioner put
      every key in exactly one partition (co-location, the grouping half
      of the contract);
    - ``n_rows``: content-derived total.

    Scales: the summarizer is vectorized numpy per Arrow batch (shifted
    lexicographic compares; one scalar carry — the previous batch's last
    row — across batch boundaries), O(1) memory per partition beyond the
    current batch, summaries are O(#partitions) rows, and the final
    aggregate is a single tiny reduction. The r8 form iterated rows in
    Python (`itertuples`) — same counts, Python-speed; this form is the
    Arrow-speed equivalent (bit-equal by construction: the within-batch
    shift compares and the boundary carry enumerate exactly the same
    adjacent pairs and key runs the row loop did; equality cross-checked
    on random UNSORTED data where inversions are nonzero). Measured r9:
    kernel 32x (2M rows single-thread: 0.78 s itertuples vs 0.024 s
    vectorized); end-to-end at sf0.1/x30 is unchanged (~7.5 s at x30,
    old = new within noise) because the repartition+sort shuffle of the
    18M-row table dominates and local[32] parallelism hid the loop — the
    win is per-core CPU budget at cluster scale (10^9 rows/executor:
    ~7 CPU-min of itertuples -> ~13 s of numpy per core), not local
    wall-clock at these SFs.
    """
    import pandas as pd

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_linenumber"
    )
    staged = li.repartition("l_suppkey").sortWithinPartitions(
        "l_suppkey", "l_orderkey", "l_linenumber"
    )

    def summarize(batches):
        n = inversions = local_keys = 0
        prev = None  # (suppkey, orderkey, linenumber) of the previous row
        for pdf in batches:
            if not len(pdf):
                continue
            s = pdf["l_suppkey"].to_numpy()
            o = pdf["l_orderkey"].to_numpy()
            ln = pdf["l_linenumber"].to_numpy()
            n += len(s)
            # Adjacent-pair inversions within the batch: lexicographic
            # (s, o, ln) < previous row, vectorized over the shift-by-1.
            ps, po, pl = s[:-1], o[:-1], ln[:-1]
            cs, co, cl = s[1:], o[1:], ln[1:]
            inversions += int(
                ((cs < ps) | ((cs == ps) & ((co < po) | ((co == po) & (cl < pl))))).sum()
            )
            # Key runs within the batch: suppkey changes between adjacents.
            local_keys += int((cs != ps).sum())
            # Batch boundary: the first row of this batch vs the carried
            # last row of the previous one (or the partition start).
            first = (int(s[0]), int(o[0]), int(ln[0]))
            if prev is None:
                local_keys += 1
            else:
                if first[0] != prev[0]:
                    local_keys += 1
                if first < prev:
                    inversions += 1
            prev = (int(s[-1]), int(o[-1]), int(ln[-1]))
        if n:
            yield pd.DataFrame(
                {"n_rows": [n], "inversions": [inversions], "local_keys": [local_keys]}
            )

    summary = staged.mapInPandas(
        summarize, "n_rows bigint, inversions bigint, local_keys bigint"
    )
    return summary.agg(
        F.coalesce(F.sum("n_rows"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.coalesce(F.sum("local_keys"), F.lit(0)).cast("bigint").alias("n_keys"),
        F.coalesce(F.sum("inversions"), F.lit(0)).cast("bigint").alias("order_violations"),
    )
