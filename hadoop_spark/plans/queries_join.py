"""Join queries (SURVEY §2.4): N-way composite inner/outer, override
(rightmost-wins), tagged reduce-side join, broadcast join, semi/anti.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_spark.operators.join import (
    anti_join,
    broadcast_join,
    composite_inner,
    composite_outer,
    override,
    semi_join,
)
from hadoop_spark.plans.catalog import query
from hadoop_spark.sources.tables import fanout_small, load_table

# Per-nation aggregates from three different sources — overlapping but not
# identical key sets, exercising the all-sources (inner) vs any-source
# (outer, NULL slots) distinction of TestJoinDatamerge.
_N_WAY_SOURCES = """
cust AS (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1),
supp AS (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1),
nat  AS (SELECT n_nationkey AS k, n_name FROM nation WHERE n_nationkey < 20)
"""

_INNER_ORACLE = f"""
WITH {_N_WAY_SOURCES}
SELECT cust.k AS k, n_cust, n_supp, n_name
FROM cust JOIN supp USING (k) JOIN nat USING (k)
"""


def _nway_sources(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    nat = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") < 20)
        .select(F.col("n_nationkey").alias("k"), "n_name")
    )
    return cust, supp, nat


@query("composite_join_inner", _INNER_ORACLE)
def composite_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inner(a,b,c): keys present in ALL THREE sources."""
    cust, supp, nat = _nway_sources(spark, sf_dir)
    return composite_inner("k", cust, supp, nat)


_OUTER_ORACLE = f"""
WITH {_N_WAY_SOURCES}
SELECT COALESCE(cust.k, supp.k, nat.k) AS k, n_cust, n_supp, n_name
FROM cust FULL OUTER JOIN supp ON cust.k = supp.k
          FULL OUTER JOIN nat  ON COALESCE(cust.k, supp.k) = nat.k
"""


@query("composite_join_outer", _OUTER_ORACLE)
def composite_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """outer(a,b,c): keys present in ANY source, absent slots NULL."""
    cust, supp, nat = _nway_sources(spark, sf_dir)
    return composite_outer("k", cust, supp, nat)


# override(a,b,c): rightmost source holding the key wins. Sources: customer
# count, supplier count, and nation key (each unique per k).
_OVERRIDE_ORACLE = """
WITH a AS (SELECT c_nationkey AS k, COUNT(*) AS v FROM customer GROUP BY 1),
     b AS (SELECT s_nationkey AS k, COUNT(*) AS v FROM supplier GROUP BY 1),
     c AS (SELECT n_nationkey AS k, CAST(n_regionkey AS BIGINT) AS v
           FROM nation WHERE n_nationkey >= 10)
SELECT COALESCE(a.k, b.k, c.k) AS k,
       COALESCE(c.v, b.v, a.v) AS v
FROM a FULL OUTER JOIN b ON a.k = b.k
       FULL OUTER JOIN c ON COALESCE(a.k, b.k) = c.k
"""


@query("override_join", _OVERRIDE_ORACLE)
def override_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """override(a,b,c): rightmost-wins coalesce (`OverrideRecordReader:56`)."""
    a = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("v"))
    )
    b = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("v"))
    )
    c = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") >= 10)
        .select(F.col("n_nationkey").alias("k"), F.col("n_regionkey").cast("bigint").alias("v"))
    )
    return override("k", "v", a, b, c)


_BROADCAST_ORACLE = """
SELECT n_name, r_name, COUNT(*) AS n_cust
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY n_name, r_name
"""


@query("broadcast_dim_join", _BROADCAST_ORACLE)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DistributedCache parity: both dims shipped to every task; zero
    shuffle on the fact side until the final small agg."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = broadcast_join(cust, nation, cust.c_nationkey == nation.n_nationkey)
    joined = broadcast_join(joined, region, joined.n_regionkey == region.r_regionkey)
    return joined.groupBy("n_name", "r_name").agg(F.count(F.lit(1)).alias("n_cust"))


_SEMI_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
"""


@query("semi_join", _SEMI_ORACLE)
def semi_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one big order — left_semi, no duplication."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return semi_join(cust, big, cust.c_custkey == big.o_custkey).select("c_custkey", "c_name")


_ANTI_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderstatus = 'F')
"""


@query("anti_join", _ANTI_ORACLE)
def anti_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    fin = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return anti_join(cust, fin, cust.c_custkey == fin.o_custkey).select("c_custkey", "c_name")


_MULTIPLICITY_ORACLE = """
SELECT a.l_orderkey AS k, a.l_linenumber AS ln_a, b.l_linenumber AS ln_b
FROM (SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey % 100 = 0) a
JOIN (SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey % 100 = 0) b
  ON a.l_orderkey = b.l_orderkey
"""


@query("join_multiplicity", _MULTIPLICITY_ORACLE)
def join_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-product-per-key semantics (`JoinRecordReader.java:124`):
    |inner(a,b)| per key = |a_k|·|b_k| — verified by self-joining a slice
    with duplicate keys."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_linenumber").alias("ln_a"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_linenumber").alias("ln_b"))
    return a.join(b, on="k", how="inner")


_SALTED_ORACLE = """
SELECT l_orderkey, COUNT(*) AS n_lines,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
GROUP BY l_orderkey
"""


@query("salted_skew_join", _SALTED_ORACLE)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join (RehashPartitioner parity taken further,
    `lib/partition/RehashPartitioner.java:35`): hot keys detected with a
    cheap pre-count, scattered over salt buckets, joined on (key, salt) —
    results provably identical to the plain join (the oracle IS the plain
    join). At 100 TB this is the manual override for skew AQE can't fix
    (a single hot key within one partition)."""
    from hadoop_spark.operators.skew import salted_join, top_keys

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    hot = top_keys(li, "l_orderkey", threshold=4)
    joined = salted_join(li, orders, "l_orderkey", num_salts=4, hot_keys=hot)
    return joined.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
    )


_ASOF_ORACLE = """
WITH purchases AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS click_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, epoch_us(ts)
)
SELECT p.event_id, p.user_id, p.ts_us, c.click_value,
       c.ts_us AS click_ts_us
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND c.ts_us <= p.ts_us
"""


@query("asof_join_events", _ASOF_ORACLE)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every purchase matched to the user's LATEST click at or
    before the purchase time (NULL when none). Free extension beyond the
    reference (SURVEY §2.4 notes as-of joins are absent there); the oracle
    is DuckDB's native ASOF LEFT JOIN, our engine's is the union-window
    idiom in operators/join.py — one shuffle, no range-join explosion."""
    from hadoop_spark.operators.join import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.unix_micros("ts").alias("ts_us"))
        .agg(F.max("value").alias("click_value"))
        .withColumn("click_ts_us", F.col("ts_us"))
    )
    return asof_join(
        purchases,
        clicks,
        key="user_id",
        time_col="ts_us",
        value_cols=["click_value", "click_ts_us"],
    ).select("event_id", "user_id", "ts_us", "click_value", "click_ts_us")


_RANGE_ORACLE = """
WITH p AS (
  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_ts
  FROM events WHERE event_type = 'purchase'
),
e AS (
  SELECT event_id AS e_id, user_id, epoch_us(ts) AS e_ts
  FROM events WHERE event_type = 'error'
)
SELECT p_id, e_id, p.user_id, (p_ts - e_ts) AS gap_us
FROM p JOIN e ON p.user_id = e.user_id
WHERE e_ts BETWEEN p_ts - 3600000000 AND p_ts
"""


@query("range_join_events", _RANGE_ORACLE)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join (absent from the reference, SURVEY §2.4): errors
    within the hour BEFORE each purchase by the same user.

    Scale shape: the range predicate rides an EQUI join on (user_id,
    hour-bucket) — each purchase probes its own and the previous hour
    bucket, so the join stays hash-partitioned and the non-equi filter
    only sees per-bucket candidates, never a per-user cross product."""
    ev = load_table(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_micros("ts").alias("p_ts"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.unix_micros("ts").alias("e_ts"),
    )
    # probe own + previous hour bucket
    p_b = p.withColumn(
        "bkt", F.explode(F.array((F.col("p_ts") / hour_us).cast("bigint"),
                                 (F.col("p_ts") / hour_us).cast("bigint") - 1))
    )
    e_b = e.withColumn("bkt", (F.col("e_ts") / hour_us).cast("bigint"))
    return (
        p_b.join(e_b, (p_b.user_id == e_b.e_user) & (p_b.bkt == e_b.bkt))
        .filter(
            (F.col("e_ts") >= F.col("p_ts") - hour_us) & (F.col("e_ts") <= F.col("p_ts"))
        )
        .select("p_id", "e_id", "user_id", (F.col("p_ts") - F.col("e_ts")).alias("gap_us"))
    )
    # no distinct needed: an error row has exactly one bucket and each
    # purchase probes two DISTINCT buckets, so a pair matches at most once.


_CDC_ORACLE_TMPL = """
WITH merged AS (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000 ELSE o_totalprice END AS price
  FROM orders
  WHERE o_orderkey % 20 <> 0
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n, {sum_price} AS sum_price
FROM merged GROUP BY o_orderstatus
"""


def _cdc_oracle() -> str:
    from hadoop_spark.functions.numeric import dsum_sql

    return _CDC_ORACLE_TMPL.format(sum_price=dsum_sql("price"))


@query("cdc_merge", _cdc_oracle())
def cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert (keep-latest-by-key with tombstones;
    `hadoop-datajoin/.../DataJoinReducerBase.java:90` resolve-per-key
    parity): a delta of updates (every 10th order, repriced) and deletes
    (every 20th order) merges onto the orders snapshot in one shuffle;
    result verified via a post-merge aggregate."""
    from hadoop_spark.functions.numeric import dsum
    from hadoop_spark.operators.cdc import merge_upsert

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").alias("price")
    )
    snapshot = orders.withColumn("v", F.lit(1))
    changed = orders.filter(F.col("o_orderkey") % 10 == 0)
    delta = changed.select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("price") + 1000).alias("price"),
        F.lit(2).alias("v"),
        (F.col("o_orderkey") % 20 == 0).alias("deleted"),
    )
    merged = merge_upsert(snapshot, delta, "o_orderkey", "v", delete_col="deleted")
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("price")).alias("sum_price")
    )


def _bucketed_oracle() -> str:
    from hadoop_spark.functions.numeric import dsum_sql

    return f"""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       {dsum_sql('l_extendedprice')} AS sum_price
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
"""


@query("bucketed_join_agg", _bucketed_oracle())
def bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CompositeInputFormat map-side merge join, driver-verified
    (`lib/join/CompositeInputFormat.java:56`): orders and lineitem are
    written as identically bucketed+sorted tables (the one agreed-
    partitioner shuffle, paid at layout time), then the equi-join compiles
    shuffle-free on both sides (zero-Exchange plan gated in
    tests/test_bucketed_join.py) and feeds the revenue aggregate. Tables
    live in an explicit database under <repo>/.tmp so the warehouse never
    lands in an arbitrary cwd."""
    import os

    from hadoop_spark.functions.numeric import dsum
    from hadoop_spark.sources.bucketed import colocated_join, write_bucketed

    import shutil

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    wh = os.path.join(repo, ".tmp", "warehouse")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS graft_wh LOCATION '{wh}'")
    # a FRESH session's in-memory catalog doesn't know about a previous
    # run's managed-table directories — drop and clear so saveAsTable
    # never hits LOCATION_ALREADY_EXISTS
    for t in ("bq_orders", "bq_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS graft_wh.{t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"), "o_orderstatus"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("key"), "l_extendedprice"
    )
    write_bucketed(orders, "graft_wh.bq_orders", ["key"], 8)
    write_bucketed(li, "graft_wh.bq_lineitem", ["key"], 8)
    joined = colocated_join(spark, "graft_wh.bq_orders", "graft_wh.bq_lineitem", on=["key"])
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("l_extendedprice")).alias("sum_price")
    )


_MAP_LOOKUP_ORACLE = """
SELECT n_nationkey, n_name, r_name AS region_name
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


@query("map_lookup_enrich", _MAP_LOOKUP_ORACLE)
def map_lookup_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DistributedCache side-DATA pattern (`filecache/DistributedCache.
    java:87`: ship a small lookup file to every task, enrich map-side
    without a join): the region dim collapses to a literal MAP expression
    embedded in the plan — zero join, zero shuffle, pure projection. The
    collect of the dim is the side-file read (5 rows; the pattern holds to
    ~10^5 entries, after which broadcast_join is the right tool, as the
    reference's own cache-file limits implied)."""
    region = load_table(spark, sf_dir, "region")
    lookup = {r.r_regionkey: r.r_name for r in region.collect()}
    entries = []
    for k, v in sorted(lookup.items()):
        entries.extend([F.lit(k), F.lit(v)])
    region_map = F.create_map(*entries)
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey",
        "n_name",
        F.element_at(region_map, F.col("n_regionkey")).alias("region_name"),
    )


# ----------------------------------------------------------------------
# bloom_filter_join — hand-rolled Bloom-filter runtime join pruning.
# Spark's own runtime filters (`spark.sql.optimizer.runtime.bloomFilter.
# enabled`) inject exactly this shape; building it explicitly makes the
# technique available when the optimizer declines (e.g. a non-equi
# pre-aggregated build side) and keeps the plan auditable. The build side
# (urgent orders) aggregates its key set down to a FIXED 8 KiB bit array
# (1024 longs — the DistributedCache side-data pattern: the collect is
# bounded by the filter size, never by the data), the probe side tests
# membership MAP-SIDE before any shuffle, and the real equi-join then
# removes the Bloom false positives, so the result is exact while the
# shuffle carries ~selectivity× fewer probe rows. At 100 TB: the fact
# scan feeds a codegen'd bitmask test, and only surviving lineitems pay
# shuffle I/O — the classic semi-join reduction from the MapReduce-join
# literature, Spark-first.
# ----------------------------------------------------------------------

_BLOOM_M = 1 << 16  # bits
_BLOOM_WORDS = _BLOOM_M // 64

_BLOOM_ORACLE = """
SELECT l.l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                 AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l.l_linestatus
"""


@query("bloom_filter_join", _BLOOM_ORACLE)
def bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_spark.functions.hashing import portable_hash64
    from hadoop_spark.functions.numeric import dsum

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    keys = orders.select("o_orderkey")
    # Build: key -> two bit positions -> OR-fold into 1024 words. The
    # aggregation is distributed (partial bit_or map-side); only the
    # constant-size word table is collected.
    pos = keys.select(
        F.explode(
            F.array(
                portable_hash64(F.col("o_orderkey"), "bf0") % _BLOOM_M,
                portable_hash64(F.col("o_orderkey"), "bf1") % _BLOOM_M,
            )
        ).alias("pos")
    )
    words_df = (
        pos.select(
            (F.col("pos") / 64).cast("int").alias("word"),
            (F.col("pos") % 64).cast("int").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or(F.expr("shiftleft(1L, bit)")).alias("mask"))
    )
    words = [0] * _BLOOM_WORDS
    for r in words_df.collect():
        words[r["word"]] = r["mask"]
    # One literal array column in a single py4j call: the previous
    # F.array(*[F.lit(w) ...]) built 1024 Column objects through 1024
    # driver round-trips — pure plan-construction overhead (guide §1.2
    # step 2; the executed plan is identical, a foldable array literal).
    bloom = F.lit(words)

    # r10 opt (guide §2.3): explicit projection to the 4 consumed columns
    # ahead of the probe expressions (A/B'd a fan-out repartition here too:
    # no exec win — the pruned probe is not this query's bottleneck — so no
    # extra exchange is added).
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_extendedprice", "l_discount"
    )
    h0 = portable_hash64(F.col("l_orderkey"), "bf0") % _BLOOM_M
    h1 = portable_hash64(F.col("l_orderkey"), "bf1") % _BLOOM_M

    # Membership test as a pure codegen'd expression: extract the word,
    # shift by the bit index, AND 1 — both hashes must hit.
    word0 = F.element_at(bloom, (h0 / 64).cast("int") + 1)
    word1 = F.element_at(bloom, (h1 / 64).cast("int") + 1)
    bit0 = (h0 % 64).cast("int")
    bit1 = (h1 % 64).cast("int")
    pruned = li.withColumn("_b0w", word0).withColumn("_b0b", bit0).withColumn(
        "_b1w", word1
    ).withColumn("_b1b", bit1).filter(
        F.expr("(shiftright(_b0w, _b0b) & 1L) = 1L")
        & F.expr("(shiftright(_b1w, _b1b) & 1L) = 1L")
    ).drop("_b0w", "_b0b", "_b1w", "_b1b")

    joined = pruned.join(orders, pruned.l_orderkey == orders.o_orderkey)
    return joined.groupBy(F.col("l_linestatus")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


# ----------------------------------------------------------------------
# asof_forward_events / asof_tolerance_events — the rest of the as-of
# family (pandas merge_asof parity): FORWARD direction (each click →
# the user's NEXT purchase at-or-after — the time-to-next-conversion
# lookup) and a TOLERANCE bound (latest click within 1 h of a purchase,
# else NULL — stale matches rejected). Both stay on the union-window
# idiom from operators/join.py: one keyed shuffle, no range-join
# explosion; DuckDB's native ASOF (with >= / distance gate) is the
# oracle.
# ----------------------------------------------------------------------

_ASOF_FWD_ORACLE = """
WITH clicks AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS pvalue
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, epoch_us(ts)
)
SELECT c.event_id, c.user_id, c.ts_us,
       p.ts_us AS next_purchase_us
FROM clicks c
ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND p.ts_us >= c.ts_us
"""


@query("asof_forward_events", _ASOF_FWD_ORACLE)
def asof_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_spark.operators.join import asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.unix_micros("ts").alias("ts_us"))
        .agg(F.max("value").alias("pvalue"))
        .withColumn("next_purchase_us", F.col("ts_us"))
    )
    return asof_join_forward(
        clicks,
        purchases,
        key="user_id",
        time_col="ts_us",
        value_cols=["next_purchase_us"],
    )


_ASOF_TOL_US = 3_600_000_000  # 1 hour

_ASOF_TOL_ORACLE = f"""
WITH purchases AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, epoch_us(ts) AS ts_us, MAX(value) AS cvalue
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, epoch_us(ts)
)
SELECT p.event_id, p.user_id, p.ts_us,
       CASE WHEN p.ts_us - c.ts_us <= {_ASOF_TOL_US}
            THEN c.ts_us END AS click_ts_us
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND c.ts_us <= p.ts_us
"""


@query("asof_tolerance_events", _ASOF_TOL_ORACLE)
def asof_tolerance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_spark.operators.join import asof_join_tolerance

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.unix_micros("ts").alias("ts_us"))
        .agg(F.max("value").alias("cvalue"))
        .withColumn("click_ts_us", F.col("ts_us"))
    )
    return asof_join_tolerance(
        purchases,
        clicks,
        key="user_id",
        time_col="ts_us",
        tolerance=_ASOF_TOL_US,
        value_cols=["click_ts_us"],
    )


# ----------------------------------------------------------------------
# relational_division — the classic "FOR ALL" operator (Codd's division):
# users who performed EVERY distinct event type in the log. The reference
# expresses this as a two-job MapReduce chain (distinct per (user, type),
# then a reduce comparing per-user type counts to the global type count);
# the Spark form is two aggregations plus a 1-row broadcast cross join —
# the divisor cardinality is a scalar by construction, so nothing about
# this shape changes at 100 TB: one partial-aggregated distinct shuffle
# on (user, type), one count shuffle on user, and the scalar divisor is
# broadcast (never a driver-side collect in the data path).
# ----------------------------------------------------------------------

_DIVISION_ORACLE = """
SELECT user_id, CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
FROM events
GROUP BY user_id
HAVING COUNT(DISTINCT event_type)
       = (SELECT COUNT(DISTINCT event_type) FROM events)
"""


@query("relational_division", _DIVISION_ORACLE)
def relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Division = per-key distinct-count equals divisor cardinality."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    per_user = (
        ev.distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_types"))
    )
    divisor = ev.select("event_type").distinct().agg(
        F.count(F.lit(1)).alias("n_all")
    )
    return (
        per_user.join(F.broadcast(divisor))
        .filter(F.col("n_types") == F.col("n_all"))
        .select("user_id", "n_types")
    )


# ----------------------------------------------------------------------
# supplier_fill_rate — per-supplier SLA attainment: the share of line
# items shipped within 30 days of their order's placement date. A
# fact-to-fact equi-join (lineitem ⋈ orders on orderkey) — the shape
# that motivates CO-PARTITIONED storage: at 100 TB both tables bucket by
# orderkey (`sources/bucketed.py` provides the layout and its
# zero-Exchange join proof), so this join is a local zipper, and the
# only shuffle left is the supplier aggregation. The rate is an exact
# integer pair (filled, total) with one final quantized division.
# ----------------------------------------------------------------------

_FILL_RATE_ORACLE = """
WITH j AS (
  SELECT l.l_suppkey,
         CASE WHEN epoch_us(CAST(l.l_shipdate AS TIMESTAMP)) // 86400000000
                   - epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // 86400000000
                   <= 30
              THEN 1 ELSE 0 END AS filled
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT l_suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(filled) AS BIGINT) AS n_filled,
       CAST(SUM(filled) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS fill_rate
FROM j GROUP BY 1
"""


@query("supplier_fill_rate", _FILL_RATE_ORACLE)
def supplier_fill_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    day_of = lambda c: F.floor(  # noqa: E731
        F.unix_micros(F.col(c).cast("timestamp")) / 86_400_000_000
    ).cast("bigint")
    j = li.select("l_orderkey", "l_suppkey", day_of("l_shipdate").alias("sd")).join(
        orders.select("o_orderkey", day_of("o_orderdate").alias("od")),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    filled = F.when(F.col("sd") - F.col("od") <= 30, 1).otherwise(0)
    agg = j.select("l_suppkey", filled.alias("filled")).groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("filled").cast("bigint").alias("n_filled"),
    )
    # r10 audit: raw IEEE fill rate of exact int64 counts.
    rate = F.col("n_filled").cast("double") / F.col("n_lines").cast("double")
    return agg.select("l_suppkey", "n_lines", "n_filled", rate.alias("fill_rate"))


# ----------------------------------------------------------------------
# duplicate_payment_flags — the classic audit query: pairs of orders by
# the SAME customer in the SAME $1000 amount band within 90 days
# (double-charge / double-submit candidates; band + window sized so the
# synthetic fixture actually flags pairs — exact-cents-within-7-days is
# vacuously empty here). The scalable shape is equality blocking first —
# group on (customer, amount band), where collisions are rare — so the
# pair expansion is per-tiny-group, never a fact-table self-join; the
# day-window test then prunes inside each block.
# ----------------------------------------------------------------------

_DUP_PAY_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_custkey,
         CAST(CAST(o_totalprice * 100 AS DECIMAL(38,0)) AS BIGINT) // 100000
           AS band,
         CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000
              AS BIGINT) AS day
  FROM orders
)
SELECT a.o_custkey, a.band,
       a.o_orderkey AS order_a, b.o_orderkey AS order_b,
       CAST(ABS(a.day - b.day) AS BIGINT) AS day_gap
FROM o a JOIN o b
  ON a.o_custkey = b.o_custkey AND a.band = b.band
 AND a.o_orderkey < b.o_orderkey
WHERE ABS(a.day - b.day) <= 90
"""


@query("duplicate_payment_flags", _DUP_PAY_ORACLE)
def duplicate_payment_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        F.floor(
            (F.col("o_totalprice") * 100).cast("decimal(38,0)").cast("bigint")
            / 100000
        )
        .cast("bigint")
        .alias("band"),
        F.floor(
            F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 86_400_000_000
        )
        .cast("bigint")
        .alias("day"),
    )
    a = o.alias("a")
    b = o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .filter(F.abs(F.col("a.day") - F.col("b.day")) <= 90)
        .select(
            F.col("a.o_custkey").alias("o_custkey"),
            F.col("a.band").alias("band"),
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.abs(F.col("a.day") - F.col("b.day")).cast("bigint").alias("day_gap"),
        )
    )


# ----------------------------------------------------------------------
# ivm_join_delta — incremental maintenance of a JOIN view. The view
# V = sum of line revenue per order priority over orders ⋈ lineitem is
# kept up to date against inserts to BOTH base tables with the textbook
# delta algebra
#     ΔV = agg(ΔO ⋈ L₀) ⊎ agg(O₀ ⋈ ΔL) ⊎ agg(ΔO ⋈ ΔL)
# and then merged into V₀ = agg(O₀ ⋈ L₀) by key-wise exact-integer sum —
# the Spark plan literally executes the three delta joins plus the merge,
# and the oracle recomputes the view FROM SCRATCH on the full tables, so
# the hash match IS the correctness proof of the maintenance algebra
# (`incremental_agg_merge` proves the agg-only case; this is the join
# case a warehouse needs for view maintenance at 100 TB, where the delta
# joins touch only the day's inserts plus the co-partitioned base keys).
# Splits are deterministic mod-10 key slices standing in for "yesterday's
# snapshot" vs "today's inserts".
# ----------------------------------------------------------------------

from hadoop_spark.functions.numeric import dsum_sql as _dsum_sql

_IVM_JOIN_ORACLE = f"""
SELECT o.o_orderpriority,
       {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 8)} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""


@query("ivm_join_delta", _IVM_JOIN_ORACLE)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-view maintenance: three delta joins + exact merge == recompute."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o0 = orders.filter(F.col("o_orderkey") % 10 != 0)
    do = orders.filter(F.col("o_orderkey") % 10 == 0)
    l0 = li.filter(F.col("l_linenumber") % 3 != 0)
    dl = li.filter(F.col("l_linenumber") % 3 == 0)

    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,8)"
    )

    def view(o: DataFrame, l: DataFrame) -> DataFrame:
        return (
            o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.sum(rev).alias("rc"),
                F.count(F.lit(1)).cast("bigint").alias("nl"),
            )
        )

    v0 = view(o0, l0)
    d1 = view(do, l0)
    d2 = view(o0, dl)
    d3 = view(do, dl)
    merged = v0.unionByName(d1).unionByName(d2).unionByName(d3)
    return merged.groupBy("o_orderpriority").agg(
        F.sum("rc").cast("double").alias("revenue"),
        F.sum("nl").cast("bigint").alias("n_lines"),
    )


# ----------------------------------------------------------------------
# interval_overlap_join — interval × interval overlap (Allen's "overlaps
# or touches") between order fulfilment windows [order day, last ship
# day] and calendar quarters, per quarter: how many orders were IN
# FLIGHT during the quarter and how many of those started before it.
# `range_join_events` covers point-in-interval; this is the two-sided
# case, compiled to the scalable BANDING plan: each interval explodes to
# the bounded set of months it spans (fan-out = interval length / band,
# ~4 here), quarters explode to their 3 months, the join is EQUI on the
# month band, and the (order, quarter) pair is deduplicated before the
# rollup. No inequality join anywhere — the shape that hash-partitions
# at 100 TB where a theta-join would nested-loop. The oracle states the
# same overlap as a direct inequality join (DuckDB's optimizer handles
# the small case; the banding is the Spark-side scale plan).
# ----------------------------------------------------------------------

_IOV_ORACLE = """
WITH ow AS (
  SELECT o.o_orderkey,
         CAST(epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // 86400000000
              AS BIGINT) AS d0,
         CAST(MAX(epoch_us(CAST(l.l_shipdate AS TIMESTAMP)) // 86400000000)
              AS BIGINT) AS d1
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey, o.o_orderdate
), q AS (
  SELECT DISTINCT
         CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
         CAST((EXTRACT(month FROM o_orderdate) - 1) // 3 + 1 AS BIGINT) AS qt
  FROM orders
), qw AS (
  SELECT yr, qt,
         CAST(epoch_us(make_timestamp(CAST(yr AS INT),
                                      CAST((qt - 1) * 3 + 1 AS INT),
                                      1, 0, 0, 0.0)) // 86400000000 AS BIGINT)
           AS q0,
         CAST(epoch_us(CASE WHEN qt = 4
                 THEN make_timestamp(CAST(yr + 1 AS INT), 1, 1, 0, 0, 0.0)
                 ELSE make_timestamp(CAST(yr AS INT),
                                     CAST(qt * 3 + 1 AS INT), 1, 0, 0, 0.0)
               END) // 86400000000 - 1 AS BIGINT) AS q1
  FROM q
)
SELECT qw.yr, qw.qt,
       CAST(COUNT(*) AS BIGINT) AS n_in_flight,
       CAST(SUM(CASE WHEN ow.d0 < qw.q0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_carried_in
FROM ow JOIN qw ON ow.d0 <= qw.q1 AND ow.d1 >= qw.q0
GROUP BY qw.yr, qw.qt
"""


@query("interval_overlap_join", _IOV_ORACLE)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-window × quarter overlap via month-banded equi-join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    day = lambda c: F.floor(  # noqa: E731
        F.unix_micros(F.col(c).cast("timestamp")) / 86_400_000_000
    ).cast("bigint")
    mon = lambda c: (  # noqa: E731
        F.year(F.col(c).cast("timestamp")) * 12
        + F.month(F.col(c).cast("timestamp"))
        - 1
    ).cast("bigint")
    # r11 opt note: pre-aggregating lineitem to one row per order BEFORE
    # the orders join (guide §2.3) was tried and REVERTED after a
    # balanced ABBA A/B lost 4/4 pairs (pre-agg med 3.26 / min 3.03 s vs
    # this shape's 2.72 / 2.55 at sf0.1): at ~4 lines per order the
    # map-side partial aggregation's hash table over ~|orders| groups
    # costs more than the 4x row reduction saves, while the join-then-agg
    # form reuses the join's orderkey partitioning for the groupBy (no
    # extra exchange). The banded quarter probe below is already the
    # equi-join shape the r10 verdict asked to confirm.
    ow = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max(day("l_shipdate")).alias("d1"), F.max(mon("l_shipdate")).alias("m1"))
        .select(
            "o_orderkey",
            day("o_orderdate").alias("d0"),
            mon("o_orderdate").alias("m0"),
            "d1",
            "m1",
        )
    )
    # band: one row per month the order window touches (bounded fan-out:
    # fulfilment windows span a few months by construction)
    ob = ow.select(
        "o_orderkey",
        "d0",
        "d1",
        F.explode(F.sequence(F.col("m0"), F.col("m1"))).alias("band"),
    )
    yr = F.year(F.col("o_orderdate").cast("timestamp")).cast("bigint")
    qt = (
        F.floor((F.month(F.col("o_orderdate").cast("timestamp")) - 1) / 3) + 1
    ).cast("bigint")
    q = orders.select(yr.alias("yr"), qt.alias("qt")).distinct()
    q0d = F.make_date(F.col("yr").cast("int"), ((F.col("qt") - 1) * 3 + 1).cast("int"), F.lit(1))
    q1d = F.date_sub(
        F.when(
            F.col("qt") == 4,
            F.make_date(F.col("yr").cast("int") + 1, F.lit(1), F.lit(1)),
        ).otherwise(
            F.make_date(F.col("yr").cast("int"), (F.col("qt") * 3 + 1).cast("int"), F.lit(1))
        ),
        1,
    )
    qday = lambda c: F.floor(  # noqa: E731
        F.unix_micros(c.cast("timestamp")) / 86_400_000_000
    ).cast("bigint")
    qw = q.select(
        "yr",
        "qt",
        qday(q0d).alias("q0"),
        qday(q1d).alias("q1"),
    )
    qb = qw.select(
        "yr",
        "qt",
        "q0",
        "q1",
        F.explode(
            F.sequence(
                F.col("yr") * 12 + (F.col("qt") - 1) * 3,
                F.col("yr") * 12 + (F.col("qt") - 1) * 3 + 2,
            )
        ).alias("band"),
    )
    hits = (
        ob.join(F.broadcast(qb), "band")
        .filter((F.col("d0") <= F.col("q1")) & (F.col("d1") >= F.col("q0")))
        .select("o_orderkey", "yr", "qt", "d0", "q0")
        .distinct()
    )
    return hits.groupBy("yr", "qt").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in_flight"),
        F.sum(F.when(F.col("d0") < F.col("q0"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_carried_in"),
    )


# ----------------------------------------------------------------------
# recursive_order_chain — Spark 4's WITH RECURSIVE surface (SQL-level
# linear recursion), exercised on a computation that is genuinely
# NON-window-expressible: each customer's credit balance replayed over
# their order chain with a floor at zero (open orders draw credit,
# finalized orders repay it, the balance clamps at 0). The recursion
# anchors at each customer's first order and steps through rn+1 — depth
# = max orders per customer (data-bounded, ~tens), width = one row per
# customer per level. The same recursion runs verbatim in DuckDB's
# WITH RECURSIVE — SQL-dialect parity for the one control-flow feature
# the reference could only express as a chained MapReduce job
# (`JobControl`, `MAPRED/jobcontrol/JobControl.java:46`). The clamp
# recursion cross-checks `clamped_running_stock`'s Lindley closed form
# in `tests/test_r4d_invariants.py`.
# ----------------------------------------------------------------------

_REC_CHAIN_SQL = """
WITH RECURSIVE ranked AS (
  SELECT o_custkey, o_orderkey,
         CAST(CASE WHEN o_orderstatus = 'F'
              THEN -CAST(CAST(o_totalprice * 100 AS DECIMAL(38,0)) AS BIGINT)
              ELSE CAST(CAST(o_totalprice * 100 AS DECIMAL(38,0)) AS BIGINT)
              END AS BIGINT) AS x,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
), walk(o_custkey, rn, bal) AS (
  SELECT o_custkey, rn, GREATEST(CAST(0 AS BIGINT), x)
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.o_custkey, r.rn, GREATEST(CAST(0 AS BIGINT), w.bal + r.x)
  FROM walk w JOIN ranked r
    ON r.o_custkey = w.o_custkey AND r.rn = w.rn + 1
)
SELECT o_custkey,
       CAST(MAX(rn) AS BIGINT) AS n_orders,
       CAST(MAX(CASE WHEN rn = mx THEN bal END) AS BIGINT) AS final_cents
FROM (SELECT o_custkey, rn, bal,
             MAX(rn) OVER (PARTITION BY o_custkey) AS mx
      FROM walk)
GROUP BY o_custkey
"""


_REC_CHAIN_BOUNDS: dict[tuple, int] = {}


@query("recursive_order_chain", _REC_CHAIN_SQL)
def recursive_order_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE clamped-balance walk over each customer's orders."""
    from hadoop_spark.sources.tables import _file_identity, register_views

    register_views(spark, sf_dir)
    # The recursion's true size is n_customers + n_orders rows total
    # (anchor + one row per order); Spark's default 1M-row safety valve
    # trips at ~30x the test scale (found by scripts/scale_probe.py). A
    # try/finally restore would reset the conf before the lazy plan
    # EXECUTES, so instead raise it to a DATA-BOUNDED value (4x the exact
    # row budget) — the runaway-recursion valve stays armed for any
    # genuinely divergent recursion that runs later in the same session.
    # The bound is kept per identity of BOTH input files, so a regenerated
    # table at the same path can't serve a stale (too-small) bound; inputs
    # without a local identity are counted on every call.
    inputs = ("orders", "customer")
    key = tuple(_file_identity(f"{sf_dir}/{t}.parquet") for t in inputs)
    if None in key or key not in _REC_CHAIN_BOUNDS:
        n_rows = sum(load_table(spark, sf_dir, t).count() for t in inputs)
        _REC_CHAIN_BOUNDS[key] = max(1_000_000, 4 * n_rows)
    # The conf is session-global and the plan is lazy: set the MAX over
    # every bound seen this session, so two interleaved lazy plans over
    # different datasets both execute under a sufficient valve (the last
    # setter would otherwise clamp the earlier plan to the wrong bound).
    spark.conf.set(
        "spark.sql.cteRecursionRowLimit", str(max(_REC_CHAIN_BOUNDS.values()))
    )
    return spark.sql(_REC_CHAIN_SQL)


# ----------------------------------------------------------------------
# asof_nearest_events — the NEAREST direction of the merge_asof family
# (backward/forward/tolerance are above): each purchase matched to the
# click closest in time in EITHER direction, ties to the earlier click.
# Composed from the two existing union-window as-of operators (one keyed
# shuffle each, no range-join explosion): a backward pass carries the
# previous click, a forward pass the next, and the winner is a pure
# row-local comparison. The oracle composes DuckDB's native ASOF both
# ways with the same tie rule.
# ----------------------------------------------------------------------

_ASOF_NEAR_ORACLE = """
WITH purchases AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, epoch_us(ts)
), b AS (
  SELECT p.event_id, p.user_id, p.ts_us, c.ts_us AS prev_click_us
  FROM purchases p
  ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND c.ts_us <= p.ts_us
), f AS (
  SELECT b.event_id, b.user_id, b.ts_us, b.prev_click_us,
         c.ts_us AS next_click_us
  FROM b
  ASOF LEFT JOIN clicks c
    ON b.user_id = c.user_id AND c.ts_us >= b.ts_us
)
SELECT event_id, user_id, ts_us,
       CASE
         WHEN prev_click_us IS NULL THEN next_click_us
         WHEN next_click_us IS NULL THEN prev_click_us
         WHEN ts_us - prev_click_us <= next_click_us - ts_us
           THEN prev_click_us
         ELSE next_click_us
       END AS nearest_click_us
FROM f
"""


@query("asof_nearest_events", _ASOF_NEAR_ORACLE)
def asof_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of: two union-window passes + row-local pick."""
    from hadoop_spark.operators.join import asof_join, asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.unix_micros("ts").alias("ts_us"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("user_id", "ts_us")
    )
    b = asof_join(
        purchases,
        clicks.withColumn("prev_click_us", F.col("ts_us")),
        key="user_id",
        time_col="ts_us",
        value_cols=["prev_click_us"],
    )
    f = asof_join_forward(
        b,
        clicks.withColumn("next_click_us", F.col("ts_us")),
        key="user_id",
        time_col="ts_us",
        value_cols=["next_click_us"],
    )
    nearest = (
        F.when(F.col("prev_click_us").isNull(), F.col("next_click_us"))
        .when(F.col("next_click_us").isNull(), F.col("prev_click_us"))
        .when(
            F.col("ts_us") - F.col("prev_click_us")
            <= F.col("next_click_us") - F.col("ts_us"),
            F.col("prev_click_us"),
        )
        .otherwise(F.col("next_click_us"))
    )
    return f.select(
        "event_id", "user_id", "ts_us", nearest.alias("nearest_click_us")
    )


# ----------------------------------------------------------------------
# pit_feature_join — point-in-time-correct feature retrieval (the
# feature-store join): each order row is enriched with the customer's
# history STRICTLY BEFORE that order (prior order count, prior spend) —
# the leakage-free construction a training pipeline must use where a
# naive join would see the future. Compiles to one keyed window with a
# [-inf, -1] frame: no self-join, no as-of lookup table, one shuffle on
# the customer key.
# ----------------------------------------------------------------------

_PIT_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(COALESCE(COUNT(*) OVER w, 0) AS BIGINT) AS prior_orders,
       CAST(COALESCE(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0))) OVER w, 0)
            AS BIGINT) AS prior_spend_cents
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


@query("pit_feature_join", _PIT_ORACLE)
def pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free prior-history features per order (one keyed window)."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0))
        .cast("bigint")
        .alias("prior_orders"),
        F.coalesce(
            F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)")).over(w),
            F.lit(0),
        )
        .cast("bigint")
        .alias("prior_spend_cents"),
    )


# ----------------------------------------------------------------------
# business_day_latency — order→ship latency in BUSINESS days via the
# closed-form weekday prefix count G(d) = 5·⌊(d+3)/7⌋ + min((d+3) mod 7,
# 5) over epoch days (day 0 = Thursday; +3 anchors the week on Monday),
# so weekdays in (d0, d1] = G(d1+1) − G(d0+1) — pure integer arithmetic,
# no calendar table, TZ-immune (`date_dimension`'s civil-arithmetic
# discipline). Reported as the business-day latency histogram.
# ----------------------------------------------------------------------

_BIZLAT_ORACLE = """
WITH d AS (
  SELECT CAST(epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // 86400000000
              AS BIGINT) AS d0,
         CAST(epoch_us(CAST(l.l_shipdate AS TIMESTAMP)) // 86400000000
              AS BIGINT) AS d1
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), g AS (
  SELECT (5 * ((d1 + 1 + 3) // 7) + LEAST((d1 + 1 + 3) % 7, 5))
         - (5 * ((d0 + 1 + 3) // 7) + LEAST((d0 + 1 + 3) % 7, 5)) AS bizdays
  FROM d
)
SELECT CAST(bizdays AS BIGINT) AS bizdays,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM g GROUP BY bizdays
"""


@query("business_day_latency", _BIZLAT_ORACLE)
def business_day_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day ship-latency histogram from closed-form weekday counts."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    day = lambda c: F.floor(  # noqa: E731
        F.unix_micros(F.col(c).cast("timestamp")) / 86_400_000_000
    ).cast("bigint")

    def G(d):  # weekday prefix count at epoch day d (Monday-anchored)
        m = d + 3
        return 5 * F.floor(m / 7) + F.least(m % 7, F.lit(5))

    j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        (G(day("l_shipdate") + 1) - G(day("o_orderdate") + 1))
        .cast("bigint")
        .alias("bizdays")
    )
    return j.groupBy("bizdays").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )


# ----------------------------------------------------------------------
# composite_join_expr — the EXAMPLES/Join.java:61 driver expressed through
# the join-expression DSL string instead of direct Python calls: three
# per-customer sources written as parquet "input dirs", then joined by
# `compose("inner(tbl(...), tbl(...), tbl(...))")` exactly the way the
# reference assembles `mapreduce.join.expr` via
# `CompositeInputFormat.compose(op, inputFormat, dirs...)`
# (`lib/join/CompositeInputFormat.java:151-186`, grammar `:69-81`,
# parser `lib/join/Parser.java`). The resolve hook plays
# WrappedRecordReader: tbl's (format, path) literals -> a scan. The plan
# is the same chained sort-merge join the direct calls produce — one
# shuffle per source on the key, AQE free to re-pick.
# ----------------------------------------------------------------------

_COMPOSE_ORACLE = """
WITH cnt AS (
  SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
), rev AS (
  SELECT o_custkey AS custkey,
         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
           AS revenue
  FROM orders GROUP BY 1
), dim AS (
  SELECT c_custkey AS custkey, c_mktsegment FROM customer
)
SELECT dim.custkey, c_mktsegment, n_orders, revenue
FROM dim JOIN cnt USING (custkey) JOIN rev USING (custkey)
"""


@query("composite_join_expr", _COMPOSE_ORACLE)
def composite_join_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inner(tbl(...),tbl(...),tbl(...)) over three written input dirs."""
    import os

    from hadoop_spark.operators.join import compose, compose_expr

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    base = os.path.join(repo, ".tmp", "io", tag, "compose_inputs")

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    srcs = {
        "dim": cust.select(
            F.col("c_custkey").alias("custkey"), "c_mktsegment"
        ),
        "cnt": orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.count(F.lit(1)).alias("n_orders")
        ),
        "rev": orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue")
        ),
    }
    for name, df in srcs.items():
        df.write.mode("overwrite").parquet(os.path.join(base, name))

    def resolve(fmt: str, path: str) -> DataFrame:
        if fmt != "parquet":  # the expression names the input format class
            raise ValueError(f"unsupported tbl format {fmt!r}")
        return spark.read.parquet(path)

    # the Join.java flow verbatim: build the expr with the static
    # compose(op, inputFormat, paths...) convenience, then parse it
    expr = compose_expr(
        "inner", "parquet", *[os.path.join(base, n) for n in ("dim", "cnt", "rev")]
    )
    return compose(expr, key="custkey", resolve=resolve)
