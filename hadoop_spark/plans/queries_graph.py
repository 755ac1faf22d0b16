"""Iterative graph analytics (extension): PageRank over the supplier
co-occurrence graph.

PageRank is THE canonical iterative-MapReduce workload — the reference
project exists because Nutch needed exactly this loop (scan links, emit
rank/deg contributions, sum per target, repeat; see the MapReduce lineage
in `EXAMPLES/` and the join/aggregate primitives it composes). The Spark
form keeps the loop on the driver but every iteration is one declarative
join + aggregation: edges persist once, ranks are node-sized, shuffle
width per iteration is O(edges) keyed on the join key — the shape that
holds on a 1000-executor cluster with a trillion-edge graph (edges would
be bucketed by src so the per-iteration join is co-located).

Determinism at any parallelism: per-target contribution sums run through
floor-quantized exact integer sums (`functions/numeric.fsum` — r10
audit: the generic r/deg quotient addends are engine-exact under floor,
while a decimal cast carries the shortest-repr tie risk), so ranks are
bit-identical regardless of partitioning — which is also what makes the
unrolled-CTE DuckDB oracle able to match a distributed run exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_spark.functions.numeric import dsum, dsum_sql, fsum, fsum_sql
from hadoop_spark.operators.graph import (
    cooccurrence_pairs,
    loop_width,
    symmetrize,
    wedge_closure,
)
from hadoop_spark.operators.join import bcast_if_small
from hadoop_spark.plans.catalog import query
from hadoop_spark.sources.tables import load_table, shared

_ITERS = 5
_DAMP = "0.85"
_JUMP = "0.15"
_SCALE = 12  # contribution quantization scale


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs (recursive CTEs
    cannot aggregate in the recursive term, so the loop is unrolled —
    the oracle mirrors the driver loop exactly)."""
    head = """
WITH pairs AS (
  SELECT DISTINCT LEAST(a.l_suppkey, b.l_suppkey) AS u,
                  GREATEST(a.l_suppkey, b.l_suppkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
),
edges AS (
  SELECT u AS s, v AS d FROM pairs UNION ALL SELECT v AS s, u AS d FROM pairs
),
deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS dg FROM edges GROUP BY s),
nodes AS (SELECT DISTINCT s AS node FROM edges),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
r0 AS (
  SELECT node, CAST(1 AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE) AS r
  FROM nodes
)"""
    iters = []
    for k in range(1, _ITERS + 1):
        contrib = fsum_sql("r.r / CAST(dg.dg AS DOUBLE)", _SCALE)
        iters.append(f"""
r{k} AS (
  SELECT n.node,
         CAST({_JUMP} AS DOUBLE) / CAST((SELECT n FROM nn) AS DOUBLE)
           + CAST({_DAMP} AS DOUBLE) * COALESCE(c.contrib, CAST(0 AS DOUBLE))
           AS r
  FROM nodes n LEFT JOIN (
    SELECT e.d AS node, {contrib} AS contrib
    FROM edges e
    JOIN r{k - 1} r ON e.s = r.node
    JOIN deg dg ON dg.s = e.s
    GROUP BY e.d
  ) c ON c.node = n.node
)""")
    tail = f"""
SELECT node, r AS pr
FROM r{_ITERS}"""
    return head + "," + ",".join(iters) + tail


@query("pagerank", _pagerank_oracle())
def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank, 5 Lloyd-style driver iterations, decimal-exact.

    Each iteration's ranks are cut from the lineage with an eager
    localCheckpoint. Measured against the lazy checkpoint (README probe
    row), eager was flatter AND faster at both sf0.1 (6.12 s med / 1.08x
    spread vs 7.18 / 1.43x) and x30 (40.8 / 1.09x vs 42.7 / 1.12x)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = shared(symmetrize(cooccurrence_pairs(li, "l_orderkey", "l_suppkey")))
    # Materialize the edge cache at full session width (the BUILD wants the
    # parallelism), and use the counted size to pin a scale-adaptive width
    # for everything loop-shaped below (operators/graph.loop_width — the
    # connected-components formula; r10 A/B med 8.08 -> 4.98 s, ranks
    # identical). The count is one cheap job over the just-persisted cache.
    n_edge_rows = edges.count()
    with loop_width(spark, n_edge_rows):
        deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
        # Degrees fold into the persisted edge table ONCE — each iteration
        # then costs a single join + aggregation instead of two joins.
        edges_deg = shared(edges.join(deg, "s"))
        # r10 opt (guide §2.4 remove shuffles outright): the node set IS the
        # distinct source set of the symmetric edge table — exactly deg's key
        # column, already aggregated. Deriving nodes from deg drops the
        # second full distinct shuffle over the edge table.
        nodes = shared(deg.select(F.col("s").alias("node")))
        # O(1) scalar (node count) — same class of driver-side scalar as the
        # connected-components convergence flag; at 100 TB this is one count.
        n = nodes.count()
        if n == 0:
            # empty graph (zero-split inputs): no nodes -> no ranks; the 1/n
            # seed would otherwise constant-fold into an ANSI divide-by-zero
            return spark.createDataFrame([], "node bigint, pr double")
        damp, jump = float(_DAMP), float(_JUMP)
        ranks = nodes.select("node", (F.lit(1.0) / F.lit(float(n))).alias("r"))
        for _ in range(_ITERS):
            contribs = (
                edges_deg.join(ranks, edges_deg["s"] == ranks["node"])
                .groupBy(F.col("d").alias("node"))
                .agg(
                    fsum(
                        F.col("r") / F.col("dg").cast("double"), _SCALE
                    ).alias("contrib")
                )
            )
            ranks = nodes.join(contribs, "node", "left").select(
                "node",
                (
                    F.lit(jump) / F.lit(float(n))
                    + F.lit(damp) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("r"),
            )
            # Cut lineage growth per iteration (same discipline as
            # dedup_components): ranks stays node-sized. Eager checkpointing
            # is the regime (flatter and faster than lazy at sf0.1 and x30,
            # see the docstring); it is also what makes loop_width
            # effective: every round executes INSIDE the pinned region.
            ranks = ranks.localCheckpoint(eager=True)
    # r10 audit: ranks are raw IEEE values of fsum-exact contribution
    # sums — bit-identical per iteration on both engines, so the final
    # output needs no re-quantization.
    return ranks.select("node", F.col("r").alias("pr"))


# ----------------------------------------------------------------------
# bfs_hops — multi-source BFS (bounded frontier expansion): hop distance
# from the seed set (suppliers of nation 0) to every node of the supplier
# co-occurrence graph, capped at 3 hops. The MapReduce lineage is the
# iterative "expand frontier, min-combine distances" job chain; the Spark
# form is K rounds of (edges JOIN dists) -> groupBy(dst).min — shuffle
# width O(edges) per round, all-integer arithmetic (bit-exact under any
# partitioning, no quantization needed), lineage cut per round.
# ----------------------------------------------------------------------

_HOPS = 3
_INF = 2147483647  # in-loop sentinel so LEAST/min never sees NULL


def _bfs_oracle() -> str:
    head = f"""
WITH pairs AS (
  SELECT DISTINCT LEAST(a.l_suppkey, b.l_suppkey) AS u,
                  GREATEST(a.l_suppkey, b.l_suppkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
),
edges AS (
  SELECT u AS s, v AS d FROM pairs UNION ALL SELECT v AS s, u AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS node FROM edges),
d0 AS (
  SELECT node,
         CASE WHEN node IN (SELECT s_suppkey FROM supplier
                            WHERE s_nationkey = 0)
              THEN 0 ELSE {_INF} END AS dist
  FROM nodes
)"""
    iters = []
    for k in range(1, _HOPS + 1):
        iters.append(f"""
d{k} AS (
  SELECT n.node,
         LEAST(n.dist, COALESCE(c.mind, {_INF})) AS dist
  FROM d{k - 1} n LEFT JOIN (
    SELECT e.d AS node, MIN(r.dist + 1) AS mind
    FROM edges e JOIN d{k - 1} r ON e.s = r.node
    WHERE r.dist < {_INF}
    GROUP BY e.d
  ) c ON c.node = n.node
)""")
    tail = f"""
SELECT node,
       CASE WHEN dist = {_INF} THEN NULL ELSE CAST(dist AS INT) END AS hops
FROM d{_HOPS}"""
    return head + "," + ",".join(iters) + tail


@query("bfs_hops", _bfs_oracle())
def bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances, 3 frontier-expansion rounds."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = shared(symmetrize(cooccurrence_pairs(li, "l_orderkey", "l_suppkey")))
    # r10: materialize the edge cache at session width, then run the rounds
    # under a scale-adaptive pinned width (loop_width) with EAGER per-round
    # checkpoints so every round executes inside the pinned region — the
    # lazy regime deferred the whole chain to the caller's action, where
    # the session width applies. A/B (balanced, narrow-executed): warm
    # 6.67-7.36 s -> 5.45-5.67 s, distances identical (integer min-combine
    # is partitioning-independent).
    n_edge_rows = edges.count()
    with loop_width(spark, n_edge_rows):
        nodes = edges.select(F.col("s").alias("node")).distinct()
        seeds = (
            load_table(spark, sf_dir, "supplier")
            .filter(F.col("s_nationkey") == 0)
            .select(F.col("s_suppkey").alias("node"), F.lit(0).alias("seed_d"))
        )
        # seeds is one nation's suppliers — graph-small but SF-scaling, so
        # the broadcast is size-guarded
        dists = nodes.join(bcast_if_small(seeds), "node", "left").select(
            "node", F.coalesce(F.col("seed_d"), F.lit(_INF)).alias("dist")
        )
        for _ in range(_HOPS):
            contribs = (
                edges.join(dists, edges["s"] == dists["node"])
                .filter(F.col("dist") < _INF)
                .groupBy(F.col("d").alias("node"))
                .agg(F.min(F.col("dist") + 1).alias("mind"))
            )
            dists = dists.join(contribs, "node", "left").select(
                "node",
                F.least(
                    F.col("dist"), F.coalesce(F.col("mind"), F.lit(_INF))
                ).alias("dist"),
            )
            dists = dists.localCheckpoint(eager=True)
    return dists.select(
        "node",
        F.when(F.col("dist") == _INF, F.lit(None).cast("int"))
        .otherwise(F.col("dist").cast("int"))
        .alias("hops"),
    )


# ----------------------------------------------------------------------
# weighted_sssp — Bellman-Ford rounds over the WEIGHTED co-occurrence
# graph: edge weight = max(1, 6 − shared_orders) (stronger co-purchase =
# shorter distance, clamped to [1, 5] so paths stay integer-exact), two
# relaxation rounds from the nation-0 seed set. The weighted
# generalization of `bfs_hops`: same O(edges) shuffle per round, same
# min-combine (bit-exact integers, no quantization), lineage cut per
# round; K rounds bound the horizon exactly like the reference's
# iterative job chains.
# ----------------------------------------------------------------------

_WSSSP_ROUNDS = 2
_WSSSP_INF = 2147483647


def _wsssp_oracle() -> str:
    head = f"""
WITH pc AS (
  SELECT LEAST(a.l_suppkey, b.l_suppkey) AS u,
         GREATEST(a.l_suppkey, b.l_suppkey) AS v,
         CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS cnt
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY 1, 2
),
wedges AS (
  SELECT u AS s, v AS d, GREATEST(1, 6 - cnt) AS w FROM pc
  UNION ALL
  SELECT v AS s, u AS d, GREATEST(1, 6 - cnt) AS w FROM pc
),
nodes AS (SELECT DISTINCT s AS node FROM wedges),
d0 AS (
  SELECT node,
         CASE WHEN node IN (SELECT s_suppkey FROM supplier
                            WHERE s_nationkey = 0)
              THEN 0 ELSE {_WSSSP_INF} END AS dist
  FROM nodes
)"""
    iters = []
    for k in range(1, _WSSSP_ROUNDS + 1):
        iters.append(f"""
d{k} AS (
  SELECT n.node,
         LEAST(n.dist, COALESCE(c.mind, {_WSSSP_INF})) AS dist
  FROM d{k - 1} n LEFT JOIN (
    SELECT e.d AS node, MIN(r.dist + e.w) AS mind
    FROM wedges e JOIN d{k - 1} r ON e.s = r.node
    WHERE r.dist < {_WSSSP_INF}
    GROUP BY e.d
  ) c ON c.node = n.node
)""")
    tail = f"""
SELECT node,
       CASE WHEN dist = {_WSSSP_INF} THEN NULL
            ELSE CAST(dist AS BIGINT) END AS dist
FROM d{_WSSSP_ROUNDS}"""
    return head + "," + ",".join(iters) + tail


@query("weighted_sssp", _wsssp_oracle())
def weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # per-order supplier sets -> map-side pair expansion carrying the
    # order, then a (u, v) count — the cooccurrence_pairs shape plus a
    # shared-order count for the weight
    grouped = li.distinct().groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_suppkey")).alias("a")
    )
    pairs = (
        grouped.filter(F.size("a") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.size("a") - 1),
                        lambda i: F.transform(
                            F.sequence(i + 1, F.size("a")),
                            lambda j: F.struct(
                                F.element_at("a", i).alias("u"),
                                F.element_at("a", j).alias("v"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = F.greatest(F.lit(1), F.lit(6) - F.col("cnt"))
    wedges = shared(
        pairs.select(F.col("u").alias("s"), F.col("v").alias("d"), w.alias("w"))
        .unionAll(
            pairs.select(F.col("v").alias("s"), F.col("u").alias("d"), w.alias("w"))
        )
    )
    # r10: same regime as bfs_hops — edge cache materialized wide, rounds
    # executed eagerly under the scale-adaptive loop width. A/B (balanced):
    # med 7.04 -> 4.2 s, min 5.29 -> 3.89, distances identical.
    n_edge_rows = wedges.count()
    with loop_width(spark, n_edge_rows):
        nodes = wedges.select(F.col("s").alias("node")).distinct()
        seeds = (
            load_table(spark, sf_dir, "supplier")
            .filter(F.col("s_nationkey") == 0)
            .select(F.col("s_suppkey").alias("node"), F.lit(0).alias("seed_d"))
        )
        dists = nodes.join(bcast_if_small(seeds), "node", "left").select(
            "node", F.coalesce(F.col("seed_d"), F.lit(_WSSSP_INF)).alias("dist")
        )
        for _ in range(_WSSSP_ROUNDS):
            contribs = (
                wedges.join(dists, wedges["s"] == dists["node"])
                .filter(F.col("dist") < _WSSSP_INF)
                .groupBy(F.col("d").alias("node"))
                .agg(F.min(F.col("dist") + F.col("w")).alias("mind"))
            )
            dists = dists.join(contribs, "node", "left").select(
                "node",
                F.least(
                    F.col("dist"), F.coalesce(F.col("mind"), F.lit(_WSSSP_INF))
                ).alias("dist"),
            )
            dists = dists.localCheckpoint(eager=True)
    return dists.select(
        "node",
        F.when(F.col("dist") == _WSSSP_INF, F.lit(None).cast("bigint"))
        .otherwise(F.col("dist").cast("bigint"))
        .alias("dist"),
    )


# ----------------------------------------------------------------------
# kcore_peel — k-core decomposition, bounded peeling: repeatedly remove
# nodes with degree < K from the supplier co-occurrence graph (2 rounds
# — each round is one degree aggregation + one semi-join edge filter,
# O(edges) shuffle, all integers), then report surviving nodes with
# their residual degree. The dense-subgraph curation primitive (spam
# rings, core communities); bounded rounds keep the plan static exactly
# like `bfs_hops` / `label_propagation`.
# ----------------------------------------------------------------------

_KCORE_K = 12
_KCORE_ROUNDS = 2


def _kcore_oracle() -> str:
    head = """
WITH pairs AS (
  SELECT DISTINCT LEAST(a.l_suppkey, b.l_suppkey) AS u,
                  GREATEST(a.l_suppkey, b.l_suppkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
),
e0 AS (
  SELECT u AS s, v AS d FROM pairs UNION ALL SELECT v AS s, u AS d FROM pairs
)"""
    iters = []
    for r in range(1, _KCORE_ROUNDS + 1):
        iters.append(f"""
deg{r - 1} AS (
  SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM e{r - 1} GROUP BY s
),
keep{r} AS (SELECT node FROM deg{r - 1} WHERE deg >= {_KCORE_K}),
e{r} AS (
  SELECT e.s, e.d FROM e{r - 1} e
  JOIN keep{r} ka ON e.s = ka.node
  JOIN keep{r} kb ON e.d = kb.node
)""")
    tail = f"""
SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS residual_deg
FROM e{_KCORE_ROUNDS} GROUP BY s
"""
    return head + "," + ",".join(iters) + tail


@query("kcore_peel", _kcore_oracle())
def kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # NOT shared(): round 1 consumes edges only twice (deg + the filter
    # join) and AQE stage-reuse already dedupes the underlying pair-build
    # exchanges; a persist here measured ~1.8x SLOWER at sf0.1 (1.9 s vs
    # 3.5 s median) — cache materialization of the full symmetric edge
    # list for work the stage cache skips anyway. Contrast pagerank /
    # triangle_count, where the SAME frame feeds 3+ branches or 5
    # iterations and the persist measured 2-5x FASTER.
    edges = symmetrize(cooccurrence_pairs(li, "l_orderkey", "l_suppkey"))
    for _ in range(_KCORE_ROUNDS):
        deg = edges.groupBy(F.col("s").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("node")
        edges = (
            edges.join(keep.withColumnRenamed("node", "s"), "s")
            .join(keep.withColumnRenamed("node", "d"), "d")
            .select("s", "d")
        )
        edges = edges.localCheckpoint(eager=False)
    return edges.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("residual_deg")
    )


# ----------------------------------------------------------------------
# degree_assortativity — Pearson correlation of endpoint degrees over the
# directed (symmetrized) edge list of the PART co-purchase graph: do
# popular parts tend to be bought alongside other popular parts? (The
# supplier co-occurrence graph is near-complete — hence regular, with
# zero degree variance — at small SF, so parts are the right fixture.) One of the standard whole-graph
# health metrics (Newman 2002). Shuffle profile: the edge build (one
# groupBy), one degree aggregation, two degree joins keyed on the edge
# endpoints — at cluster scale both joins broadcast (degrees are
# node-sized, orders of magnitude smaller than edges). All correlation
# term sums are exact DECIMAL(38,0) integer arithmetic over degrees;
# only the final ratio is floating, quantized on both engines.
# ----------------------------------------------------------------------

_ASSORT_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                  GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (
  SELECT u AS s, v AS d FROM pairs UNION ALL SELECT v AS s, u AS d FROM pairs
),
deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS dg FROM edges GROUP BY s),
ej AS (
  SELECT ds.dg AS dx, dd.dg AS dy
  FROM edges e
  JOIN deg ds ON e.s = ds.s
  JOIN deg dd ON e.d = dd.s
),
comp AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(CAST(dx AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(CAST(dy AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(CAST(dx AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS sxy,
         CAST(SUM(CAST(dx AS DECIMAL(38,0)) * CAST(dx AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(CAST(dy AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS syy
  FROM ej
)
SELECT n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       (CAST(n_edges AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
          * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
       / (SQRT(CAST(n_edges AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
               - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                 * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
          * SQRT(CAST(n_edges AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
                 - CAST(CAST(sy AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(sy AS VARCHAR) AS DOUBLE)))
         AS assortativity
FROM comp
"""


@query("degree_assortativity", _ASSORT_ORACLE)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # NOT shared(): edges has exactly two consumers (deg, ej) and AQE
    # stage-reuse dedupes the pair-build exchanges — the persist measured
    # 4.24 s vs 3.03 s without it (sf0.1, median of 5). Same rule as
    # kcore_peel; see shared()'s docstring.
    edges = symmetrize(cooccurrence_pairs(li, "l_orderkey", "l_partkey"))
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    ej = (
        edges.join(bcast_if_small(deg.select("s", F.col("dg").alias("dx"))), "s")
        .join(
            bcast_if_small(
                deg.select(F.col("s").alias("d"), F.col("dg").alias("dy"))
            ),
            "d",
        )
        .select("dx", "dy")
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    comp = ej.agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.sum(d38("dx")).cast("decimal(38,0)").alias("sx"),
        F.sum(d38("dy")).cast("decimal(38,0)").alias("sy"),
        F.sum(d38("dx") * d38("dy")).cast("decimal(38,0)").alias("sxy"),
        F.sum(d38("dx") * d38("dx")).cast("decimal(38,0)").alias("sxx"),
        F.sum(d38("dy") * d38("dy")).cast("decimal(38,0)").alias("syy"),
    )
    nd = F.col("n_edges").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    r = (nd * F.col("sxy").cast("double") - sxd * syd) / (
        F.sqrt(nd * F.col("sxx").cast("double") - sxd * sxd)
        * F.sqrt(nd * F.col("syy").cast("double") - syd * syd)
    )
    # r10 audit: raw IEEE Pearson r over exact DECIMAL(38,0) degree sums.
    return comp.join(F.broadcast(n_nodes)).select(
        "n_edges", "n_nodes", r.alias("assortativity")
    )


# ----------------------------------------------------------------------
# clustering_coefficient — per-node local clustering over the part
# co-purchase graph: cc(v) = 2·T(v) / (d(v)·(d(v)−1)), the fraction of a
# node's neighbor pairs that are themselves connected. Triangles are
# enumerated ONCE by the same degree-oriented wedge scheme as
# `triangle_count` (wedges fan out from the LOW-degree endpoint, closing
# edge is a computed equi-join key), then each triangle's three corners
# explode into a per-node count. Unlike the global count, per-center
# attribution can't pre-aggregate the wedge stream — the closing join
# runs over wedge-sized data, which the orientation bounds at
# O(m^{3/2}); at 100 TB the wedge stream shards by center and the join
# stays a plain equi-join. cc itself is an exact integer ratio,
# quantized identically on both engines.
# ----------------------------------------------------------------------

_CC_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                  GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS s,
         CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS t,
         CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN dv.d ELSE du.d END AS dt
  FROM pairs p
  JOIN deg du ON du.node = p.u
  JOIN deg dv ON dv.node = p.v
),
wedges AS (
  SELECT e1.s AS a,
         CASE WHEN (e1.dt, e1.t) < (e2.dt, e2.t) THEN e1.t ELSE e2.t END AS cs,
         CASE WHEN (e1.dt, e1.t) < (e2.dt, e2.t) THEN e2.t ELSE e1.t END AS ct
  FROM oriented e1 JOIN oriented e2
    ON e1.s = e2.s AND e1.t < e2.t
),
tri AS (
  SELECT w.a, w.cs, w.ct
  FROM wedges w JOIN oriented e ON e.s = w.cs AND e.t = w.ct
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT cs FROM tri
  UNION ALL SELECT ct FROM tri
),
tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM corners GROUP BY node)
SELECT deg.node, deg.d,
       CAST(COALESCE(tc.t, 0) AS BIGINT) AS n_triangles,
       CASE WHEN deg.d >= 2 THEN
         CAST(2 * COALESCE(tc.t, 0) AS DOUBLE)
         / CAST(deg.d * (deg.d - 1) AS DOUBLE)
       ELSE CAST(0 AS DOUBLE) END AS cc
FROM deg LEFT JOIN tc ON deg.node = tc.node
"""


@query("clustering_coefficient", _CC_ORACLE)
def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = shared(cooccurrence_pairs(li, "l_orderkey", "l_partkey"))
    # r11 opt (guide §4 + §1.2): the 41 M-row wedge self-join + closing
    # probe is replaced by the vectorized wedge_closure kernel, which
    # computes the degree orientation in numpy from the collected pair
    # list and emits pre-reduced per-corner triangle counts; the degree
    # table falls out of that same pass (kern.deg), so the JVM deg
    # aggregation below exists only on the degrade path. Above the edge
    # cap the JVM join below remains the 100 TB shape.
    kern = wedge_closure(spark, pairs, "per_node")
    if kern is not None:
        tc = kern.out.groupBy("node").agg(F.sum("t").alias("t"))
        deg = kern.deg
    else:
        deg = shared(
            pairs.select(F.col("u").alias("node"))
            .unionAll(pairs.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
        dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
        lower_first = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        oriented = shared(
            pairs.join(du, "u")
            .join(dv, "v")
            .select(
                F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
                F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
                F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
            )
        )
        e1, e2 = oriented.alias("e1"), oriented.alias("e2")
        b_lower = (F.col("e1.dt") < F.col("e2.dt")) | (
            (F.col("e1.dt") == F.col("e2.dt")) & (F.col("e1.t") < F.col("e2.t"))
        )
        wedges = e1.join(
            e2,
            (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
        ).select(
            F.col("e1.s").alias("a"),
            F.when(b_lower, F.col("e1.t")).otherwise(F.col("e2.t")).alias("cs"),
            F.when(b_lower, F.col("e2.t")).otherwise(F.col("e1.t")).alias("ct"),
        )
        closing = oriented.select(F.col("s").alias("cs"), F.col("t").alias("ct"))
        # r10 opt (guide §3.1): guarded broadcast of the edge-sized closing
        # set keeps the 41 M-row wedge stream (sf0.1) out of any exchange —
        # the closing probe is a map-side hash join. Degrades above the cap.
        tri = wedges.join(bcast_if_small(closing), ["cs", "ct"])
        corners = tri.select(
            F.explode(F.array("a", "cs", "ct")).alias("node")
        )
        tc = corners.groupBy("node").agg(F.count(F.lit(1)).alias("t"))
    out = deg.join(tc, "node", "left")
    t = F.coalesce(F.col("t"), F.lit(0)).cast("bigint")
    # r10 audit: raw IEEE quotient of exact int64 triangle/degree counts.
    cc = F.when(
        F.col("d") >= 2,
        (t * 2).cast("double") / (F.col("d") * (F.col("d") - 1)).cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select("node", "d", t.alias("n_triangles"), cc.alias("cc"))


# ----------------------------------------------------------------------
# link_prediction_cn — common-neighbors link prediction over the part
# co-purchase graph: the top-20 part pairs that are NOT connected today
# but share the most neighbors (the classic "customers who bought X and
# Y also bought Z" candidate generator). Reuses the degree-oriented
# wedge machinery: wedge endpoints (cs, ct) are exactly the 2-hop pairs,
# their wedge count IS the common-neighbor score, and the pre-aggregated
# (cs, ct) counts anti-join the oriented edge set to drop existing
# edges. Same O(m^{3/2}) bound as triangle_count; the top-k is a
# TakeOrderedAndProject with a full deterministic tie-break.
# ----------------------------------------------------------------------

_LINKPRED_K = 20

_LINKPRED_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                  GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v AS node FROM pairs
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS s,
         CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS t,
         CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN dv.d ELSE du.d END AS dt
  FROM pairs p
  JOIN deg du ON du.node = p.u
  JOIN deg dv ON dv.node = p.v
),
wedges AS (
  SELECT CASE WHEN (e1.dt, e1.t) < (e2.dt, e2.t) THEN e1.t ELSE e2.t END AS cs,
         CASE WHEN (e1.dt, e1.t) < (e2.dt, e2.t) THEN e2.t ELSE e1.t END AS ct
  FROM oriented e1 JOIN oriented e2
    ON e1.s = e2.s AND e1.t < e2.t
),
wc AS (
  SELECT cs, ct, CAST(COUNT(*) AS BIGINT) AS common_neighbors
  FROM wedges GROUP BY cs, ct
),
open_pairs AS (
  SELECT wc.cs, wc.ct, wc.common_neighbors
  FROM wc
  WHERE NOT EXISTS (
    SELECT 1 FROM oriented e WHERE e.s = wc.cs AND e.t = wc.ct
  )
)
SELECT cs AS part_a, ct AS part_b, common_neighbors
FROM open_pairs
ORDER BY common_neighbors DESC, part_a, part_b
LIMIT {_LINKPRED_K}
"""


@query("link_prediction_cn", _LINKPRED_ORACLE)
def link_prediction_cn(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = shared(cooccurrence_pairs(li, "l_orderkey", "l_partkey"))
    # r11 opt (guide §4 + §2.3): the 41 M-row wedge self-join, the
    # 32.7 M-key aggregation's raw input, AND the closing anti-join are
    # replaced by the wedge_closure kernel: it emits pre-reduced packed
    # (cs·2³² + ct, count) partials with closed pairs already filtered
    # out (the membership probe that was the anti-join is one searchsorted
    # inside the kernel). Packed-key order == (cs, ct) lex order, so the
    # top-k tie-break is unchanged, and because the in-adjacency
    # enumeration completes every pair's count within one chunk,
    # topk=_LINKPRED_K makes each chunk emit only its local top-20 —
    # K rows per chunk instead of one row per distinct open pair. Above
    # the edge cap the JVM pipeline below remains the 100 TB shape.
    kern = wedge_closure(spark, pairs, "open_pairs", topk=_LINKPRED_K)
    if kern is not None:
        wc_open = kern.out.groupBy("k").agg(
            F.sum("w").cast("bigint").alias("common_neighbors")
        )
        return (
            wc_open.orderBy(F.col("common_neighbors").desc(), F.col("k"))
            .limit(_LINKPRED_K)
            .select(
                F.shiftright(F.col("k"), 32).cast("bigint").alias("part_a"),
                F.col("k")
                .bitwiseAND(F.lit(0xFFFFFFFF))
                .cast("bigint")
                .alias("part_b"),
                "common_neighbors",
            )
        )
    deg = shared(
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = shared(
        pairs.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(lower_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
        )
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    b_lower = (F.col("e1.dt") < F.col("e2.dt")) | (
        (F.col("e1.dt") == F.col("e2.dt")) & (F.col("e1.t") < F.col("e2.t"))
    )
    wedges = e1.join(
        e2,
        (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
    ).select(
        F.when(b_lower, F.col("e1.t")).otherwise(F.col("e2.t")).alias("cs"),
        F.when(b_lower, F.col("e2.t")).otherwise(F.col("e1.t")).alias("ct"),
    )
    wc = wedges.groupBy("cs", "ct").agg(
        F.count(F.lit(1)).cast("bigint").alias("common_neighbors")
    )
    closing = oriented.select(F.col("s").alias("cs"), F.col("t").alias("ct"))
    # r10 opt note: a guarded broadcast on this anti-join was tried and
    # REVERTED — focused runs showed no win (the query is bound by the
    # 41 M-wedge -> 32.7 M-key aggregation above), and the deep-warm
    # 306-query sweep measured the broadcast variant ~2x slower under
    # session memory pressure (min 20.3 s vs the ~11 s SMJ baseline).
    open_pairs = wc.join(closing, ["cs", "ct"], "left_anti")
    return (
        open_pairs.orderBy(
            F.col("common_neighbors").desc(), F.col("cs"), F.col("ct")
        )
        .limit(_LINKPRED_K)
        .select(
            F.col("cs").alias("part_a"),
            F.col("ct").alias("part_b"),
            "common_neighbors",
        )
    )


# ----------------------------------------------------------------------
# graph_modularity — Newman modularity of the brand partition over the
# part co-purchase graph: does brand membership explain who gets bought
# with whom? Q = Σ_c (m_c/m − (d_c/2m)²), reported per community along
# with its exact integer numerator Q_c·4m² = 4·m·m_c − d_c² (the repo's
# log-free/exact-rational discipline: all counting stays DECIMAL(38,0)
# integer, one final division per row). Scale shape: one edge build, two
# broadcast dimension joins (brand is a part attribute), two bounded
# aggregations — the standard community-quality scorer next to
# `label_propagation`.
# ----------------------------------------------------------------------

_MODULARITY_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                  GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
lab AS (SELECT p_partkey, p_brand FROM part),
e AS (
  SELECT la.p_brand AS ba, lb.p_brand AS bb
  FROM pairs
  JOIN lab la ON pairs.u = la.p_partkey
  JOIN lab lb ON pairs.v = lb.p_partkey
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
intra AS (
  SELECT ba AS brand, CAST(COUNT(*) AS BIGINT) AS m_c
  FROM e WHERE ba = bb GROUP BY ba
),
degs AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS d_c FROM (
    SELECT ba AS brand FROM e UNION ALL SELECT bb FROM e
  ) GROUP BY brand
)
SELECT d.brand,
       CAST(COALESCE(i.m_c, 0) AS BIGINT) AS intra_edges,
       d.d_c AS degree_sum,
       CAST(4 * (SELECT m FROM m) * COALESCE(i.m_c, 0)
            - d.d_c * d.d_c AS BIGINT) AS q_scaled,
       CAST(4 * (SELECT m FROM m) * COALESCE(i.m_c, 0)
            - d.d_c * d.d_c AS DOUBLE)
       / CAST(4 * (SELECT m FROM m) * (SELECT m FROM m) AS DOUBLE)
         AS q_contrib
FROM degs d LEFT JOIN intra i ON d.brand = i.brand
"""


@query("graph_modularity", _MODULARITY_ORACLE)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pairs = cooccurrence_pairs(li, "l_orderkey", "l_partkey")
    la = part.select(F.col("p_partkey").alias("u"), F.col("p_brand").alias("ba"))
    lb = part.select(F.col("p_partkey").alias("v"), F.col("p_brand").alias("bb"))
    e = shared(
        pairs.join(bcast_if_small(la), "u").join(bcast_if_small(lb), "v").select("ba", "bb")
    )
    m = e.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    intra = (
        e.filter(F.col("ba") == F.col("bb"))
        .groupBy(F.col("ba").alias("brand"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("m_c"))
    )
    degs = (
        e.select(F.col("ba").alias("brand"))
        .unionAll(e.select(F.col("bb").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_c"))
    )
    j = degs.join(intra, "brand", "left").join(F.broadcast(m))
    m_c = F.coalesce(F.col("m_c"), F.lit(0)).cast("bigint")
    q_scaled = (F.lit(4) * F.col("m") * m_c - F.col("d_c") * F.col("d_c")).cast(
        "bigint"
    )
    # r10 audit: raw IEEE quotient of exact int64 edge statistics.
    q_contrib = q_scaled.cast("double") / (
        F.lit(4) * F.col("m") * F.col("m")
    ).cast("double")
    return j.select(
        "brand",
        m_c.alias("intra_edges"),
        F.col("d_c").alias("degree_sum"),
        q_scaled.alias("q_scaled"),
        q_contrib.alias("q_contrib"),
    )


# ----------------------------------------------------------------------
# community_conductance — the companion community-quality metric to
# `graph_modularity`: conductance φ(c) = cut(c) / min(vol(c), vol(rest))
# per brand community over the part co-purchase graph. Every term is
# derived from the SAME two bounded aggregates modularity uses —
# cut(c) = d_c − 2·m_c, vol(c) = d_c, vol(rest) = 2m − d_c — so the
# whole metric is exact integer algebra with ONE final IEEE division per
# community (identical on both engines; no quantization needed). Same
# scale shape: one edge build, broadcast label joins, two bounded
# aggregations.
# ----------------------------------------------------------------------

_CONDUCTANCE_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                  GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
lab AS (SELECT p_partkey, p_brand FROM part),
e AS (
  SELECT la.p_brand AS ba, lb.p_brand AS bb
  FROM pairs
  JOIN lab la ON pairs.u = la.p_partkey
  JOIN lab lb ON pairs.v = lb.p_partkey
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
intra AS (
  SELECT ba AS brand, CAST(COUNT(*) AS BIGINT) AS m_c
  FROM e WHERE ba = bb GROUP BY ba
),
degs AS (
  SELECT brand, CAST(COUNT(*) AS BIGINT) AS d_c FROM (
    SELECT ba AS brand FROM e UNION ALL SELECT bb FROM e
  ) GROUP BY brand
)
SELECT d.brand,
       CAST(d.d_c - 2 * COALESCE(i.m_c, 0) AS BIGINT) AS cut_edges,
       d.d_c AS volume,
       CAST(d.d_c - 2 * COALESCE(i.m_c, 0) AS DOUBLE)
         / CAST(LEAST(d.d_c, 2 * (SELECT m FROM m) - d.d_c) AS DOUBLE)
         AS conductance
FROM degs d LEFT JOIN intra i ON d.brand = i.brand
"""


@query("community_conductance", _CONDUCTANCE_ORACLE)
def community_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community conductance from exact integer cut/volume algebra."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    pairs = cooccurrence_pairs(li, "l_orderkey", "l_partkey")
    la = part.select(F.col("p_partkey").alias("u"), F.col("p_brand").alias("ba"))
    lb = part.select(F.col("p_partkey").alias("v"), F.col("p_brand").alias("bb"))
    e = shared(
        pairs.join(bcast_if_small(la), "u").join(bcast_if_small(lb), "v").select("ba", "bb")
    )
    m = e.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    intra = (
        e.filter(F.col("ba") == F.col("bb"))
        .groupBy(F.col("ba").alias("brand"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("m_c"))
    )
    degs = (
        e.select(F.col("ba").alias("brand"))
        .unionAll(e.select(F.col("bb").alias("brand")))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_c"))
    )
    j = degs.join(intra, "brand", "left").join(F.broadcast(m))
    cut = (F.col("d_c") - 2 * F.coalesce(F.col("m_c"), F.lit(0))).cast("bigint")
    cond = cut.cast("double") / F.least(
        F.col("d_c"), 2 * F.col("m") - F.col("d_c")
    ).cast("double")
    return j.select(
        "brand",
        cut.alias("cut_edges"),
        F.col("d_c").alias("volume"),
        cond.alias("conductance"),
    )


# ----------------------------------------------------------------------
# rich_club_coefficient — do the hubs of the part co-purchase graph
# preferentially connect to each other? φ(k) = 2·E_k / (N_k·(N_k−1))
# over the subgraph of nodes with degree > k, swept over a k grid in ONE
# pass: degrees join onto both edge endpoints once, and every k
# threshold is a conditional aggregate over the same carried degrees
# (`predicate_sweep`'s one-scan discipline applied to graph topology).
# All counting exact integers; φ is one IEEE division per grid row.
# ----------------------------------------------------------------------

_RICH_CLUB_KS = [2, 4, 8, 16, 32, 64]

def _rich_club_oracle() -> str:
    e_terms = ", ".join(
        f"CAST(SUM(CASE WHEN du > {k} AND dv > {k} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS e{k}"
        for k in _RICH_CLUB_KS
    )
    n_terms = ", ".join(
        f"CAST(SUM(CASE WHEN d > {k} THEN 1 ELSE 0 END) AS BIGINT) AS n{k}"
        for k in _RICH_CLUB_KS
    )
    rows = " UNION ALL ".join(
        f"SELECT {k} AS k, (SELECT e{k} FROM es) AS e_club,"
        f" (SELECT n{k} FROM ns) AS n_club"
        for k in _RICH_CLUB_KS
    )
    return f"""
WITH pairs AS (
  SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                  GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
  ) GROUP BY node
), ed AS (
  SELECT p.u, p.v, du.d AS du, dv.d AS dv
  FROM pairs p JOIN deg du ON p.u = du.node JOIN deg dv ON p.v = dv.node
), es AS (SELECT {e_terms} FROM ed),
ns AS (SELECT {n_terms} FROM deg)
SELECT k, e_club, n_club,
       CASE WHEN n_club >= 2
            THEN 2.0 * CAST(e_club AS DOUBLE)
                 / (CAST(n_club AS DOUBLE) * (CAST(n_club AS DOUBLE) - 1))
            ELSE 0.0 END AS phi
FROM ({rows})
"""


@query("rich_club_coefficient", _rich_club_oracle())
def rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club φ(k) over a degree-threshold grid in one edge pass."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pairs = shared(cooccurrence_pairs(li, "l_orderkey", "l_partkey"))
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    deg = shared(deg)
    ed = (
        pairs.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    es = ed.agg(
        *[
            F.sum(
                F.when((F.col("du") > k) & (F.col("dv") > k), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"e{k}")
            for k in _RICH_CLUB_KS
        ]
    )
    ns = deg.agg(
        *[
            F.sum(F.when(F.col("d") > k, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n{k}")
            for k in _RICH_CLUB_KS
        ]
    )
    # Pivot the 1-row (e2..e64, n2..n64) aggregate into the k grid with ONE
    # explode, not a 6-branch union: a union of selects over the un-persisted
    # aggregate re-PLANS the whole edge join per branch (measured: 114
    # exchanges / 42 lineitem scans in the plan, ~6x the one-pass work),
    # while explode reshapes the single computed row map-side.
    base = es.join(F.broadcast(ns))
    grid = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("bigint").alias("k"),
                        F.col(f"e{k}").alias("e_club"),
                        F.col(f"n{k}").alias("n_club"),
                    )
                    for k in _RICH_CLUB_KS
                ]
            )
        ).alias("r")
    ).select("r.k", "r.e_club", "r.n_club")
    nc = F.col("n_club").cast("double")
    phi = F.when(
        F.col("n_club") >= 2,
        2.0 * F.col("e_club").cast("double") / (nc * (nc - 1)),
    ).otherwise(0.0)
    return grid.select("k", "e_club", "n_club", phi.alias("phi"))


# ----------------------------------------------------------------------
# substitute_candidates — merchandising's anti-affinity mining: pairs of
# POPULAR parts that are never bought together (high individual demand,
# zero co-occurrence → substitute/cannibalization candidates, the dual
# of `assoc_rules`' complements). The pair space is capped to the top-50
# parts by order count BEFORE expansion (bounded 1225 candidates at any
# scale), and the absent-edge check is an anti-join against the
# co-occurrence edge set — never an all-pairs scan of the catalog.
# ----------------------------------------------------------------------

_SUBST_TOP = 50

_SUBST_ORACLE = f"""
WITH pop AS (
  SELECT l_partkey, CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
  FROM lineitem GROUP BY l_partkey
  ORDER BY n_orders DESC, l_partkey LIMIT {_SUBST_TOP}
), pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v,
         a.n_orders AS nu, b.n_orders AS nv
  FROM pop a JOIN pop b ON a.l_partkey < b.l_partkey
), edges AS (
  SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                  GREATEST(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT p.u, p.v, p.nu, p.nv,
       CAST(p.nu * p.nv AS BIGINT) AS demand_product
FROM pairs p LEFT JOIN edges e ON p.u = e.u AND p.v = e.v
WHERE e.u IS NULL
"""


@query("substitute_candidates", _SUBST_ORACLE)
def substitute_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Popular part pairs with ZERO co-occurrence (substitute mining)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    pop = shared(
        li.groupBy("l_partkey")
        .agg(F.count_distinct("l_orderkey").cast("bigint").alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "l_partkey")
        .limit(_SUBST_TOP)
    )
    a = pop.select(F.col("l_partkey").alias("u"), F.col("n_orders").alias("nu"))
    b = pop.select(F.col("l_partkey").alias("v"), F.col("n_orders").alias("nv"))
    pairs = a.join(F.broadcast(b), F.col("u") < F.col("v"))
    edges = cooccurrence_pairs(li, "l_orderkey", "l_partkey")
    return (
        pairs.join(edges, ["u", "v"], "left_anti")
        .select(
            "u",
            "v",
            "nu",
            "nv",
            (F.col("nu") * F.col("nv")).cast("bigint").alias("demand_product"),
        )
    )
