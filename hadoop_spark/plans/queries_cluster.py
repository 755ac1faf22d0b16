"""Distributed clustering queries over the embeddings table (extension):
the k-means Lloyd step — the primitive behind IVF index builds, data-mix
curation, and semantic dedup. Split from queries_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_spark.functions.numeric import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    fsum,
    fsum_sql,
)
from hadoop_spark.operators.graph import loop_width
from hadoop_spark.operators.join import bcast_if_small
from hadoop_spark.operators.similarity import (
    int_argmin_assign,
    int_dot,
    int_dot_sql,
    quantize_sql,
    with_quantized,
)
from hadoop_spark.plans.catalog import query
from hadoop_spark.sources.tables import fanout_small, load_table, shared

_EMB_CTE = f"""
e AS (SELECT vec_id, {quantize_sql('embedding')} AS q FROM embeddings),
en AS (SELECT vec_id, q, {int_dot_sql('q', 'q')} AS n2 FROM e)
"""

_KM_K = 8  # k-means K: seed centroids are vec_id < _KM_K (deterministic init)

_KMEANS_ORACLE = f"""
WITH {_EMB_CTE},
cents AS (SELECT vec_id AS cid, q AS cq, n2 AS cn2 FROM en WHERE vec_id < {_KM_K}),
assign AS (
  SELECT vec_id, cid AS cluster_id, q FROM (
    SELECT v.vec_id, c.cid, v.q,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY v.n2 + c.cn2 - 2 * {int_dot_sql('v.q', 'c.cq')}, c.cid
           ) AS rn
    FROM en v CROSS JOIN cents c
  ) WHERE rn = 1
),
members AS (
  SELECT cluster_id,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(vec_id) AS BIGINT) AS sum_vec_ids
  FROM assign GROUP BY cluster_id
),
dims AS (
  SELECT cluster_id, generate_subscripts(q, 1) AS dim, unnest(q) AS val
  FROM assign
),
dimsums AS (
  SELECT cluster_id, dim, CAST(SUM(val) AS BIGINT) AS s
  FROM dims GROUP BY cluster_id, dim
),
newcent AS (
  SELECT d.cluster_id, d.dim,
         CAST(ROUND(CAST(d.s AS DOUBLE) / CAST(m.n_members AS DOUBLE)) AS BIGINT)
           AS mean_q
  FROM dimsums d JOIN members m ON d.cluster_id = m.cluster_id
)
SELECT m.cluster_id, m.n_members, m.sum_vec_ids,
       CAST(SUM(ABS(n.mean_q)) AS BIGINT) AS centroid_l1_q,
       CAST(SUM(n.dim * n.mean_q) AS BIGINT) AS centroid_dim_checksum
FROM members m JOIN newcent n ON m.cluster_id = n.cluster_id
GROUP BY m.cluster_id, m.n_members, m.sum_vec_ids
"""


@query("kmeans_assign", _KMEANS_ORACLE)
def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of distributed k-means over the embedding table
    (the clustering primitive behind IVF index builds, data-mix curation,
    and semantic dedup): assign every vector to its nearest of {_KM_K}
    seed centroids by EXACT integer squared-L2 (quantized: d² = |v|² +
    |c|² − 2·v·c, all BIGINT, ties → smallest centroid id), then recompute
    each centroid as the per-dimension mean of its members.

    Scale shape — the canonical broadcast-iterate pattern: centroids are
    K tiny rows COLLECTED to the driver (bounded by construction — the
    DistributedCache literal pattern, same discipline as
    map_lookup_enrich) and folded into a per-row `aggregate` expression,
    so assignment is purely MAP-SIDE: no shuffle of the vector table at
    all (gated in tests/test_plan_quality.py). The only shuffles are the
    per-(cluster,dim) mean recomputation and the tiny per-cluster
    rollups. Per iteration at 100 TB: one scan + one agg shuffle; nothing
    driver-side but the K×dim centroid matrix. The oracle pins membership
    counts, member-id sums, and two exact checksums of the NEW centroid
    matrix (L1 mass + dim-weighted), so a wrong assignment, a lost
    member, or a transposed dimension cannot hash-match."""
    emb = shared(with_quantized(fanout_small(load_table(spark, sf_dir, "embeddings"))))
    cent_rows = (
        emb.filter(F.col("vec_id") < _KM_K)
        .select(F.col("vec_id").alias("cid"), "q", "n2")
        .collect()
    )  # K rows — bounded scalar collect, the broadcast side of the pattern
    if not cent_rows:  # empty-input regime: no seeds -> no clusters
        return spark.createDataFrame(
            [],
            "cluster_id bigint, n_members bigint, sum_vec_ids bigint, "
            "centroid_l1_q bigint, centroid_dim_checksum bigint",
        )
    # map-side argmin against the cid-ascending centroid list; smallest
    # cid wins ties. Arrow+numpy kernel (int_argmin_assign) — the former
    # K-way F.aggregate fold paid K*dim interpreted lambda calls per row
    # (HOFs are outside whole-stage codegen); bit-equal, A/B'd r8.
    assign = int_argmin_assign(
        emb,
        sorted((int(r.cid), [int(v) for v in r.q], int(r.n2)) for r in cent_rows),
        keep=["vec_id", "q"],
        schema="vec_id bigint, q array<bigint>, cluster_id bigint",
    )
    assign = shared(assign)
    members = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("vec_id").alias("sum_vec_ids"),
    )
    dims = assign.select(
        "cluster_id", F.posexplode("q").alias("pos", "val")
    ).select("cluster_id", (F.col("pos") + 1).alias("dim"), "val")
    dimsums = dims.groupBy("cluster_id", "dim").agg(F.sum("val").alias("s"))
    newcent = dimsums.join(F.broadcast(members), "cluster_id").select(
        "cluster_id",
        "dim",
        F.round(F.col("s").cast("double") / F.col("n_members").cast("double"))
        .cast("bigint")
        .alias("mean_q"),
    )
    cent_stats = newcent.groupBy("cluster_id").agg(
        F.sum(F.abs(F.col("mean_q"))).alias("centroid_l1_q"),
        F.sum(F.col("dim") * F.col("mean_q")).alias("centroid_dim_checksum"),
    )
    return members.join(cent_stats, "cluster_id").select(
        "cluster_id",
        "n_members",
        "sum_vec_ids",
        "centroid_l1_q",
        "centroid_dim_checksum",
    )


# ----------------------------------------------------------------------
# ann_pq_adc — product-quantized ANN with asymmetric distance computation
# (ADC): the compression half of the real 100 TB vector stack (IVF prunes
# WHICH vectors to scan — `ann_ivf_topk` — PQ compresses HOW each scanned
# vector is stored: M=8 one-byte codes instead of 64 floats, a 32x
# memory cut).
#
# Codebooks are per-subspace (8 subspaces x 8 dims, K=16 entries seeded
# from vec_id < 16 — deterministic init, same convention as
# `kmeans_assign`; a Lloyd refinement would slot in front unchanged).
# Both ENCODE (per-vector nearest codeword per subspace) and SEARCH
# (query-to-codeword distance lookup) run MAP-SIDE against the
# driver-collected codebook literal — 128 tiny rows, the DistributedCache
# pattern — so the whole scan is one pass with zero shuffles before the
# per-query top-k. All distances are exact BIGINT arithmetic on the
# quantized grid; ranking ties break on (distance, vec_id).
# ----------------------------------------------------------------------

_PQ_M = 8        # subspaces
_PQ_SUB = 8      # dims per subspace (8 x 8 = 64)
_PQ_K = 16       # codewords per subspace (seeded: vec_id < 16)
_PQ_QUERIES = 3  # vec_id < 3 are the query vectors
_PQ_TOPK = 5

_PQ_ORACLE = f"""
WITH {_EMB_CTE},
mm AS (SELECT CAST(unnest(range({_PQ_M})) AS BIGINT) AS m),
cb AS (
  SELECT mm.m, e2.vec_id AS cid,
         e2.q[(mm.m*{_PQ_SUB}+1):(mm.m*{_PQ_SUB}+{_PQ_SUB})] AS csub
  FROM en e2 CROSS JOIN mm WHERE e2.vec_id < {_PQ_K}
),
cbn AS (SELECT m, cid, csub, {int_dot_sql('csub', 'csub')} AS cn2 FROM cb),
vsub AS (
  SELECT e2.vec_id, mm.m,
         e2.q[(mm.m*{_PQ_SUB}+1):(mm.m*{_PQ_SUB}+{_PQ_SUB})] AS sub
  FROM en e2 CROSS JOIN mm
),
vsubn AS (SELECT vec_id, m, sub, {int_dot_sql('sub', 'sub')} AS sn2 FROM vsub),
enc AS (
  SELECT vec_id, m, cid AS code, csub, cn2 FROM (
    SELECT v.vec_id, v.m, c.cid, c.csub, c.cn2,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id, v.m
             ORDER BY v.sn2 + c.cn2 - 2 * {int_dot_sql('v.sub', 'c.csub')},
                      c.cid
           ) AS rn
    FROM vsubn v JOIN cbn c ON v.m = c.m
  ) WHERE rn = 1
),
adc AS (
  SELECT q.vec_id AS query_id, e2.vec_id,
         CAST(SUM(q.sn2 + e2.cn2 - 2 * {int_dot_sql('q.sub', 'e2.csub')})
              AS BIGINT) AS adc_d2
  FROM vsubn q
  JOIN enc e2 ON q.m = e2.m AND e2.vec_id <> q.vec_id
  WHERE q.vec_id < {_PQ_QUERIES}
  GROUP BY q.vec_id, e2.vec_id
)
SELECT query_id, vec_id AS neighbor_id, adc_d2, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adc_d2, vec_id
  ) AS rnk FROM adc
) WHERE rnk <= {_PQ_TOPK}
"""

# PQ vs exact-L2 recall: the CTE prefix of _PQ_ORACLE (everything up to
# the final SELECT) reused, plus the exact integer-L2 top-k and the
# intersection count.
_PQ_CTES = _PQ_ORACLE.split("\nSELECT query_id, vec_id AS neighbor_id")[0]

_PQ_RECALL_ORACLE = f"""{_PQ_CTES},
pqtop AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY adc_d2, vec_id
    ) AS rnk FROM adc
  ) WHERE rnk <= {_PQ_TOPK}
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, v.vec_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY q.n2 + v.n2 - 2 * {int_dot_sql('q.q', 'v.q')}, v.vec_id
           ) AS rnk
    FROM en q JOIN en v ON v.vec_id <> q.vec_id
    WHERE q.vec_id < {_PQ_QUERIES}
  ) WHERE rnk <= {_PQ_TOPK}
)
SELECT p.query_id,
       CAST(COUNT(e.vec_id) AS BIGINT) AS n_matched,
       CAST({_PQ_TOPK} AS BIGINT) AS k
FROM pqtop p LEFT JOIN exact e
  ON p.query_id = e.query_id AND p.vec_id = e.vec_id
GROUP BY p.query_id
"""


@query("ann_pq_adc", _PQ_ORACLE)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode + ADC top-k with the authentic lookup-table scan.

    The codebook ships as TWO flat array<bigint> literals (values + squared
    norms — one analyzable constant each, not hundreds of struct literals),
    and ADC uses the classic precomputed distance tables: for each (query,
    subspace) a 16-entry table of query-to-codeword distances is built
    driver-side (3x8x16 integers), so the scan per vector is
    M table lookups by code — exactly how a production PQ scan spends its
    cycles, and why it is fast."""
    import numpy as np

    def _quant(vals) -> list[int]:
        # Spark F.round half-up on double*1e7 — mirrored exactly (numpy and
        # Python round are half-even; the blocked-GEMM discipline).
        a = np.asarray(vals, dtype=np.float64) * 10_000_000
        return [int(v) for v in np.sign(a) * np.floor(np.abs(a) + 0.5)]

    emb = fanout_small(load_table(spark, sf_dir, "embeddings"))
    # Codebook seeds + query vectors: ONE driver-side collect of bounded
    # rows (the centroid-literal pattern from kmeans_assign /
    # map_lookup_enrich), quantized half-up to the shared integer grid.
    head = {
        int(r["vec_id"]): _quant(r["embedding"])
        for r in emb.filter(F.col("vec_id") < max(_PQ_K, _PQ_QUERIES))
        .select("vec_id", "embedding")
        .collect()
    }
    seeds = sorted((vid, qv) for vid, qv in head.items() if vid < _PQ_K)
    # flat[(m*K + cid)*SUB + d] = codeword value; cn2s[m*K + cid] = |c|^2
    flat: list[int] = [0] * (_PQ_M * _PQ_K * _PQ_SUB)
    cn2s: list[int] = [0] * (_PQ_M * _PQ_K)
    for cid, qv in seeds:
        for m in range(_PQ_M):
            sub = [int(x) for x in qv[m * _PQ_SUB : (m + 1) * _PQ_SUB]]
            base = (m * _PQ_K + cid) * _PQ_SUB
            flat[base : base + _PQ_SUB] = sub
            cn2s[m * _PQ_K + cid] = sum(x * x for x in sub)
    # ADC lookup tables: distance from each query's RAW sub-vector to every
    # codeword, precomputed driver-side (asymmetric: exact query side,
    # compressed DB side).
    qrows = sorted((vid, qv) for vid, qv in head.items() if vid < _PQ_QUERIES)
    tables: dict[int, list[list[int]]] = {}
    for qid, qv in qrows:
        per_m = []
        for m in range(_PQ_M):
            qsub = [int(x) for x in qv[m * _PQ_SUB : (m + 1) * _PQ_SUB]]
            qn2 = sum(x * x for x in qsub)
            per_m.append(
                [
                    qn2
                    + cn2s[m * _PQ_K + cid]
                    - 2
                    * sum(
                        a * b
                        for a, b in zip(
                            qsub,
                            flat[
                                (m * _PQ_K + cid) * _PQ_SUB : (m * _PQ_K + cid + 1)
                                * _PQ_SUB
                            ],
                        )
                    )
                    for cid in range(_PQ_K)
                ]
            )
        tables[qid] = per_m

    # The scan itself is a vectorized Arrow-batched kernel — quantize is
    # the shared half-up grid, encode is a per-subspace GEMM + argmin, ADC
    # is M table lookups per vector. All post-quantization values are
    # integers with |value| < 2^53, so float64 BLAS is EXACT (same
    # argument as dedup_embedding's blocked GEMM), and np.argmin's
    # first-minimum rule IS the oracle's (d2, cid) tie-break.
    import pandas as pd

    cmat = np.array(flat, dtype=np.float64).reshape(_PQ_M * _PQ_K, _PQ_SUB)
    cn2v = np.array(cn2s, dtype=np.float64)
    m_, k_, sub_, qids = _PQ_M, _PQ_K, _PQ_SUB, sorted(tables)
    tabmat = {qid: np.array(tables[qid], dtype=np.int64) for qid in qids}

    def scan(batches):
        for pdf in batches:
            if not len(pdf) or not qids:
                continue
            raw = np.array(pdf["embedding"].tolist(), dtype=np.float64) * 10_000_000
            x = np.sign(raw) * np.floor(np.abs(raw) + 0.5)
            n = len(pdf)
            codes = np.empty((n, m_), dtype=np.int64)
            for m in range(m_):
                xs = x[:, m * sub_ : (m + 1) * sub_]
                dots = xs @ cmat[m * k_ : (m + 1) * k_].T
                sn2 = (xs * xs).sum(axis=1)[:, None]
                d2 = sn2 + cn2v[m * k_ : (m + 1) * k_][None, :] - 2.0 * dots
                codes[:, m] = d2.argmin(axis=1)
            vids = pdf["vec_id"].to_numpy()
            outs = []
            for qid in qids:
                adc = np.zeros(n, dtype=np.int64)
                for m in range(m_):
                    adc += tabmat[qid][m][codes[:, m]]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(n, qid, dtype=np.int64),
                            "vec_id": vids,
                            "adc_d2": adc,
                        }
                    )
                )
            yield pd.concat(outs, ignore_index=True)

    scored = emb.select("vec_id", "embedding").mapInPandas(
        scan, schema="query_id bigint, vec_id bigint, adc_d2 bigint"
    ).filter(F.col("vec_id") != F.col("query_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("adc_d2", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _PQ_TOPK)
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "adc_d2", "rnk"
        )
    )


@query("ann_pq_recall", _PQ_RECALL_ORACLE)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ/ADC ranking against the exact integer-L2 top-5 —
    the measurement that sizes M/K before a PQ index ships (compression is
    only worth the recall it keeps). Composes the PQ scan with a
    broadcast-query exact scoring pass; output is exact integers."""
    pq = ann_pq_adc(spark, sf_dir).select("query_id", "neighbor_id")
    emb = with_quantized(fanout_small(load_table(spark, sf_dir, "embeddings")))
    qs = emb.filter(F.col("vec_id") < _PQ_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("n2").alias("qn2"),
    )
    d2 = F.col("qn2") + F.col("n2") - 2 * int_dot(F.col("qq"), F.col("q"))
    scored = emb.join(
        F.broadcast(qs), F.col("vec_id") != F.col("query_id")
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), d2.alias("d2"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _PQ_TOPK)
        .select("query_id", "neighbor_id", F.lit(True).alias("hit"))
    )
    return (
        pq.join(exact, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("hit"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_matched"),
            F.lit(_PQ_TOPK).cast("bigint").alias("k"),
        )
    )


# ----------------------------------------------------------------------
# ann_ivfpq_topk — the composed production index: IVF prunes WHICH
# vectors each query scans (nprobe nearest cells by exact integer L2),
# PQ/ADC compresses HOW each candidate is scored (M lookup-table adds).
# Everything still runs in the one Arrow-batched kernel: per batch the
# vectors' cell assignment is a GEMM+argmin against the 8 full-dim
# centroids, the PQ codes a GEMM+argmin per subspace, and each query
# contributes rows only for vectors in its probed cells — the candidate
# set shrinks by ~(1 - nprobe/ncells) BEFORE any shuffle, so the
# per-query top-k sees pruned data only.
# ----------------------------------------------------------------------

_IPQ_CELLS = 8   # IVF cells (seeded: vec_id < 8, full-dim)
_IPQ_PROBE = 2   # cells probed per query

_IVFPQ_ORACLE = f"""{_PQ_CTES},
cells AS (
  SELECT vec_id AS cent_id, q AS cq, {int_dot_sql('q', 'q')} AS cn2
  FROM en WHERE vec_id < {_IPQ_CELLS}
),
vassign AS (
  SELECT vec_id, cent_id AS cell FROM (
    SELECT v.vec_id, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY v.n2 + c.cn2 - 2 * {int_dot_sql('v.q', 'c.cq')},
                      c.cent_id
           ) AS rn
    FROM en v CROSS JOIN cells c
  ) WHERE rn = 1
),
qprobes AS (
  SELECT query_id, cent_id AS cell FROM (
    SELECT qv.vec_id AS query_id, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY qv.vec_id
             ORDER BY qv.n2 + c.cn2 - 2 * {int_dot_sql('qv.q', 'c.cq')},
                      c.cent_id
           ) AS rn
    FROM en qv CROSS JOIN cells c WHERE qv.vec_id < {_PQ_QUERIES}
  ) WHERE rn <= {_IPQ_PROBE}
),
pruned AS (
  SELECT a.query_id, a.vec_id, a.adc_d2
  FROM adc a
  JOIN vassign va ON va.vec_id = a.vec_id
  JOIN qprobes p ON p.query_id = a.query_id AND p.cell = va.cell
)
SELECT query_id, vec_id AS neighbor_id, adc_d2, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY adc_d2, vec_id
  ) AS rnk FROM pruned
) WHERE rnk <= {_PQ_TOPK}
"""


@query("ann_ivfpq_topk", _IVFPQ_ORACLE)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell pruning + PQ/ADC scoring in one Arrow-batched kernel."""
    import numpy as np

    def _quant(vals) -> list[int]:
        a = np.asarray(vals, dtype=np.float64) * 10_000_000
        return [int(v) for v in np.sign(a) * np.floor(np.abs(a) + 0.5)]

    emb = fanout_small(load_table(spark, sf_dir, "embeddings"))
    head = {
        int(r["vec_id"]): _quant(r["embedding"])
        for r in emb.filter(
            F.col("vec_id") < max(_PQ_K, _PQ_QUERIES, _IPQ_CELLS)
        )
        .select("vec_id", "embedding")
        .collect()
    }
    seeds = sorted((vid, qv) for vid, qv in head.items() if vid < _PQ_K)
    flat: list[int] = [0] * (_PQ_M * _PQ_K * _PQ_SUB)
    cn2s: list[int] = [0] * (_PQ_M * _PQ_K)
    for cid, qv in seeds:
        for m in range(_PQ_M):
            sub = [int(x) for x in qv[m * _PQ_SUB : (m + 1) * _PQ_SUB]]
            base = (m * _PQ_K + cid) * _PQ_SUB
            flat[base : base + _PQ_SUB] = sub
            cn2s[m * _PQ_K + cid] = sum(x * x for x in sub)

    # full-dim IVF centroids + per-query probed cells (driver-side: all
    # inputs are the bounded head rows)
    cents = {vid: qv for vid, qv in head.items() if vid < _IPQ_CELLS}
    if not cents or not any(vid < _PQ_QUERIES for vid in head):
        # empty-input regime: no centroids or no queries -> no results
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, adc_d2 bigint, rnk bigint"
        )
    cent_ids = sorted(cents)
    cmat_cell = np.array([cents[c] for c in cent_ids], dtype=np.float64)
    cell_n2 = (cmat_cell * cmat_cell).sum(axis=1)

    def nearest_cells(vec, keep):
        v = np.asarray(vec, dtype=np.float64)
        d2 = (v * v).sum() + cell_n2 - 2.0 * (cmat_cell @ v)
        order = sorted(range(len(cent_ids)), key=lambda i: (d2[i], cent_ids[i]))
        return [cent_ids[i] for i in order[:keep]]

    qrows = sorted((vid, qv) for vid, qv in head.items() if vid < _PQ_QUERIES)
    probes = {qid: set(nearest_cells(qv, _IPQ_PROBE)) for qid, qv in qrows}
    tables = {}
    for qid, qv in qrows:
        per_m = []
        for m in range(_PQ_M):
            qsub = [int(x) for x in qv[m * _PQ_SUB : (m + 1) * _PQ_SUB]]
            qn2 = sum(x * x for x in qsub)
            per_m.append(
                [
                    qn2
                    + cn2s[m * _PQ_K + cid]
                    - 2
                    * sum(
                        a * b
                        for a, b in zip(
                            qsub,
                            flat[
                                (m * _PQ_K + cid) * _PQ_SUB : (m * _PQ_K + cid + 1)
                                * _PQ_SUB
                            ],
                        )
                    )
                    for cid in range(_PQ_K)
                ]
            )
        tables[qid] = per_m

    import pandas as pd

    cmat = np.array(flat, dtype=np.float64).reshape(_PQ_M * _PQ_K, _PQ_SUB)
    cn2v = np.array(cn2s, dtype=np.float64)
    m_, k_, sub_, qids = _PQ_M, _PQ_K, _PQ_SUB, sorted(tables)
    tabmat = {qid: np.array(tables[qid], dtype=np.int64) for qid in qids}
    cid_arr = np.array(cent_ids, dtype=np.int64)

    def scan(batches):
        for pdf in batches:
            if not len(pdf) or not qids:
                continue
            raw = np.array(pdf["embedding"].tolist(), dtype=np.float64) * 10_000_000
            x = np.sign(raw) * np.floor(np.abs(raw) + 0.5)
            n = len(pdf)
            # IVF cell per vector: full-dim GEMM + argmin (cent_ids are
            # ascending, so argmin's first-min rule = (d2, cent_id) order)
            dcell = (x * x).sum(axis=1)[:, None] + cell_n2[None, :] - 2.0 * (
                x @ cmat_cell.T
            )
            vcell = cid_arr[dcell.argmin(axis=1)]
            codes = np.empty((n, m_), dtype=np.int64)
            for m in range(m_):
                xs = x[:, m * sub_ : (m + 1) * sub_]
                dots = xs @ cmat[m * k_ : (m + 1) * k_].T
                sn2 = (xs * xs).sum(axis=1)[:, None]
                d2 = sn2 + cn2v[m * k_ : (m + 1) * k_][None, :] - 2.0 * dots
                codes[:, m] = d2.argmin(axis=1)
            vids = pdf["vec_id"].to_numpy()
            outs = []
            for qid in qids:
                mask = np.isin(vcell, list(probes[qid]))
                if not mask.any():
                    continue
                adc = np.zeros(int(mask.sum()), dtype=np.int64)
                for m in range(m_):
                    adc += tabmat[qid][m][codes[mask, m]]
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(
                                int(mask.sum()), qid, dtype=np.int64
                            ),
                            "vec_id": vids[mask],
                            "adc_d2": adc,
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = emb.select("vec_id", "embedding").mapInPandas(
        scan, schema="query_id bigint, vec_id bigint, adc_d2 bigint"
    ).filter(F.col("vec_id") != F.col("query_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("adc_d2", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= _PQ_TOPK)
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "adc_d2", "rnk"
        )
    )


# ----------------------------------------------------------------------
# cluster_purity — clustering quality evaluation: per k-means cell, the
# majority-label share over the labeled embeddings (the counterpart of
# ann_recall / ann_pq_recall / lsh_candidate_quality for the clustering
# primitive: is the geometric assignment recovering the label structure?).
# Assignment reuses the exact integer-L2 map-side argmin convention; the
# purity rollup is two bounded aggregations over (cluster, label) counts.
# ----------------------------------------------------------------------

_PURITY_ORACLE = f"""
WITH {_EMB_CTE},
cents AS (
  SELECT vec_id AS cid, q AS cq, n2 AS cn2 FROM en WHERE vec_id < {_KM_K}
),
assign AS (
  SELECT vec_id, cid AS cluster_id FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY v.n2 + c.cn2 - 2 * {int_dot_sql('v.q', 'c.cq')}, c.cid
           ) AS rn
    FROM en v CROSS JOIN cents c
  ) WHERE rn = 1
),
labeled AS (
  SELECT a.cluster_id, e2.label FROM assign a
  JOIN embeddings e2 ON a.vec_id = e2.vec_id
),
cl AS (
  SELECT cluster_id, label, CAST(COUNT(*) AS BIGINT) AS c
  FROM labeled GROUP BY cluster_id, label
),
best AS (
  SELECT cluster_id, label AS majority_label, c AS n_majority FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY cluster_id ORDER BY c DESC, label
    ) AS rn FROM cl
  ) WHERE rn = 1
),
tot AS (
  SELECT cluster_id, CAST(SUM(c) AS BIGINT) AS n FROM cl GROUP BY cluster_id
)
SELECT t.cluster_id, t.n, b.majority_label, b.n_majority,
       CAST(b.n_majority AS DOUBLE) / CAST(t.n AS DOUBLE) AS purity
FROM tot t JOIN best b ON t.cluster_id = b.cluster_id
"""


@query("cluster_purity", _PURITY_ORACLE)
def cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-label purity per k-means cell (clustering quality eval)."""
    emb = shared(
        with_quantized(fanout_small(load_table(spark, sf_dir, "embeddings")))
    )
    cent_rows = (
        emb.filter(F.col("vec_id") < _KM_K)
        .select(F.col("vec_id").alias("cid"), "q", "n2")
        .collect()
    )
    if not cent_rows:
        return spark.createDataFrame(
            [],
            "cluster_id bigint, n bigint, majority_label int,"
            " n_majority bigint, purity double",
        )
    # same Arrow+numpy map-side argmin as kmeans_assign (bit-equal to
    # the former K-way fold; smallest cid wins ties)
    labeled = int_argmin_assign(
        emb,
        sorted((int(r.cid), [int(v) for v in r.q], int(r.n2)) for r in cent_rows),
        keep=["label"],
        schema="label int, cluster_id bigint",
    )
    cl = labeled.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    from pyspark.sql import Window

    wb = Window.partitionBy("cluster_id").orderBy(F.desc("c"), F.asc("label"))
    bests = (
        cl.withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("label").alias("majority_label"),
            F.col("c").alias("n_majority"),
        )
    )
    tot = cl.groupBy("cluster_id").agg(F.sum("c").cast("long").alias("n"))
    # r10 audit: raw IEEE quotient of exact int64 counts — bit-equal.
    purity = F.col("n_majority").cast("double") / F.col("n").cast("double")
    return tot.join(bests, "cluster_id").select(
        "cluster_id", "n", "majority_label", "n_majority", purity.alias("purity")
    )


# --- iterative k-means (3 full Lloyd rounds, integer-exact) -------------

_KMI_ROUNDS = 3

# Integer-exact half-away-from-zero rounding of s/n (s, n BIGINT; n > 0):
# no double quotient anywhere, so the unrolled 3-round oracle cannot drift
# on a .5 boundary the way ROUND(CAST(s AS DOUBLE)/n) could.
def _round_div_sql(s: str, n: str) -> str:
    return (
        f"CASE WHEN {s} >= 0 THEN (2 * {s} + {n}) // (2 * {n}) "
        f"ELSE -((2 * -({s}) + {n}) // (2 * {n})) END"
    )


def _kmi_assign_cte(t: int) -> str:
    dot = int_dot_sql("v.q", "c.cq")
    return f"""
assign{t} AS (
  SELECT vec_id, cid AS cluster_id, q, d2 FROM (
    SELECT v.vec_id, c.cid, v.q,
           v.n2 + c.cn2 - 2 * {dot} AS d2,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY v.n2 + c.cn2 - 2 * {dot}, c.cid
           ) AS rn
    FROM en v CROSS JOIN cents{t - 1} c
  ) WHERE rn = 1
)"""


def _kmi_means_cte(t: int) -> str:
    return f"""
means{t} AS (
  SELECT cluster_id AS cid, dim, {_round_div_sql('s', 'n')} AS mean_q
  FROM (
    SELECT cluster_id, dim, CAST(SUM(val) AS BIGINT) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT cluster_id, generate_subscripts(q, 1) AS dim, unnest(q) AS val
      FROM assign{t}
    ) GROUP BY cluster_id, dim
  )
)"""


def _kmi_cents_cte(t: int) -> str:
    return f"""
cents{t} AS (
  SELECT cid, list(mean_q ORDER BY dim) AS cq,
         CAST(SUM(mean_q * mean_q) AS BIGINT) AS cn2
  FROM means{t} GROUP BY cid
)"""


_KMI_ORACLE = (
    f"WITH {_EMB_CTE},\n"
    f"cents0 AS (SELECT vec_id AS cid, q AS cq, n2 AS cn2 FROM en WHERE vec_id < {_KM_K}),"
    + ",".join(
        _kmi_assign_cte(t) + ("," + _kmi_means_cte(t) + "," + _kmi_cents_cte(t) if t < _KMI_ROUNDS else "")
        for t in range(1, _KMI_ROUNDS + 1)
    )
    + f""",
{_kmi_means_cte(_KMI_ROUNDS).replace(f'means{_KMI_ROUNDS}', 'meansF', 1)},
members AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(vec_id) AS BIGINT) AS sum_vec_ids,
         CAST(SUM(d2) AS BIGINT) AS inertia
  FROM assign{_KMI_ROUNDS} GROUP BY cluster_id
)
SELECT m.cluster_id, m.n_members, m.sum_vec_ids, m.inertia,
       CAST(SUM(ABS(f.mean_q)) AS BIGINT) AS centroid_l1_q,
       CAST(SUM(f.dim * f.mean_q) AS BIGINT) AS centroid_dim_checksum
FROM members m JOIN meansF f ON m.cluster_id = f.cid
GROUP BY m.cluster_id, m.n_members, m.sum_vec_ids, m.inertia
"""
)


def _round_div(s: int, n: int) -> int:
    if s >= 0:
        return (2 * s + n) // (2 * n)
    return -((2 * -s + n) // (2 * n))


@query("kmeans_iterate", _KMI_ORACLE)
def kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full iterative k-means training loop: {R} Lloyd rounds over the
    embedding table, each round = map-side exact integer-L2 assignment
    against the current K-centroid literal + one per-(cluster,dim) mean
    shuffle, with the K x dim centroid matrix COLLECTED between rounds
    (bounded by construction — the same iterate-broadcast discipline as
    `bpe_learn_merges`). Centroid means round half-away-from-zero in pure
    integer arithmetic ((2|s|+n) // 2n), so Spark, Python, and the
    unrolled-CTE DuckDB oracle agree bit-for-bit across all rounds — no
    double quotient anywhere. Output pins per-cluster membership counts,
    member-id sums, exact integer inertia (sum of squared distances), and
    two checksums of the FINAL centroid matrix. Per round at 100 TB: one
    scan + one agg shuffle; driver state is K x dim ints. An empty cluster
    simply drops out of the next round's literal (same on both engines).

    Reference parity: the iterate-until-converged driver loop of
    `examples/kmeans`-style MapReduce jobs (JobControl chain, one job per
    round — `lib/jobcontrol/JobControl.java:46`), with the centroid file
    in DistributedCache replaced by a broadcast literal."""
    emb = shared(with_quantized(fanout_small(load_table(spark, sf_dir, "embeddings"))))
    cent_rows = (
        emb.filter(F.col("vec_id") < _KM_K)
        .select(F.col("vec_id").alias("cid"), "q", "n2")
        .collect()
    )  # K rows — bounded
    empty_schema = (
        "cluster_id bigint, n_members bigint, sum_vec_ids bigint, "
        "inertia bigint, centroid_l1_q bigint, centroid_dim_checksum bigint"
    )
    if not cent_rows:
        return spark.createDataFrame([], empty_schema)
    cents = sorted(
        ((int(r.cid), [int(v) for v in r.q], int(r.n2)) for r in cent_rows)
    )

    def assign_against(cent_list):
        # Arrow+numpy map-side argmin (bit-equal to the former K-way
        # fold; smallest cid wins ties) — re-built per round against the
        # fresh centroid literal, same iterate-broadcast discipline
        return int_argmin_assign(
            emb,
            cent_list,
            keep=["vec_id", "q"],
            schema="vec_id bigint, q array<bigint>, cluster_id bigint, d2 bigint",
            d2_col="d2",
        )

    def new_means(assign):  # -> {cid: {dim: mean_q}} via ONE bounded collect
        rows = (
            assign.select(
                "cluster_id", F.posexplode("q").alias("pos", "val")
            )
            .groupBy("cluster_id", (F.col("pos") + 1).alias("dim"))
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )  # K x dim rows — bounded
        means: dict[int, dict[int, int]] = {}
        for r in rows:
            means.setdefault(int(r.cluster_id), {})[int(r.dim)] = _round_div(
                int(r.s), int(r.n)
            )
        return means

    # r10: the per-round shuffle's reduce side is BOUNDED BY CONSTRUCTION
    # (K x dim = 512 groups at any corpus size), so the round collects run
    # under loop_width pinned from that bound — scale-INDEPENDENT because
    # the aggregation output is. The map-side Arrow argmin scan is
    # unaffected (shuffle width only sizes reducers). A/B (balanced):
    # warm 5.63-6.31 s -> 4.52-5.95, outputs identical.
    with loop_width(spark, _KM_K * 64):
        assign = assign_against(cents)
        for _ in range(_KMI_ROUNDS - 1):
            means = new_means(assign)
            cents = sorted(
                (cid, [m[d] for d in sorted(m)], sum(v * v for v in m.values()))
                for cid, m in means.items()
            )
            assign = assign_against(cents)

        final_means = new_means(assign)
    checks = [
        (
            cid,
            sum(abs(v) for v in m.values()),
            sum(d * v for d, v in m.items()),
        )
        for cid, m in sorted(final_means.items())
    ]
    checks_df = spark.createDataFrame(
        checks, "cluster_id bigint, centroid_l1_q bigint, centroid_dim_checksum bigint"
    )
    members = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("vec_id").alias("sum_vec_ids"),
        F.sum("d2").alias("inertia"),
    )
    return members.join(F.broadcast(checks_df), "cluster_id").select(
        "cluster_id", "n_members", "sum_vec_ids", "inertia",
        "centroid_l1_q", "centroid_dim_checksum",
    )


# ----------------------------------------------------------------------
# label_centroids — per-class centroid + dispersion over the embedding
# table: the class-prototype pass behind nearest-class-mean classifiers
# and dataset-drift checks. posexplode fans vectors into (label, dim, x)
# map-side; ONE partial-aggregated shuffle produces the (label × dim)
# mean matrix (bounded: classes × 64 rows) with decimal-exact sums, and
# per-dim min/max give the class's coordinate spread. The same shape as
# `embedding_dim_stats`, keyed by class.
# ----------------------------------------------------------------------

_CENTROID_DIM = 64

_CENTROID_ORACLE = f"""
WITH d AS (
  SELECT label, j - 1 AS dim, CAST(embedding[CAST(j AS INT)] AS DOUBLE) AS x
  FROM embeddings, range(1, {_CENTROID_DIM + 1}) r(j)
  WHERE j <= len(embedding)
)
SELECT label, dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       ({fsum_sql("x", 8)} / CAST(COUNT(*) AS DOUBLE)) AS mean,
       MIN(x) AS lo,
       MAX(x) AS hi
FROM d GROUP BY label, dim
"""


@query("label_centroids", _CENTROID_ORACLE)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select(
        "label", F.posexplode("embedding").alias("dim", "xf")
    ).select(
        "label",
        F.col("dim").cast("bigint").alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    return d.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        # fsum: raw embedding doubles are float32-origin and can land on
        # exact decimal-tie boundaries where engine cast rules differ.
        (fsum(F.col("x"), 8) / F.count(F.lit(1)).cast("double")).alias("mean"),
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
    )


# ----------------------------------------------------------------------
# label_top_terms — label-conditioned vocabulary profile: join the
# embedding table's labels onto their documents (vec_id keys doc_id) and
# report each label's five most frequent tokens. The multimodal-corpus
# QA view ("what does class k talk about") a curation pass prints next
# to `cluster_purity`. Shuffles: the key join, one (label, token)
# partial-aggregated count, and a top-k window over COUNTED rows
# (bounded by label-count × vocabulary, never by corpus size).
# Rank ties break on the token string, so top-5 is deterministic.
# ----------------------------------------------------------------------

_LABEL_TERMS_ORACLE = """
WITH toks AS (
  SELECT e.label, unnest(string_split(d.text, ' ')) AS w
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
),
ct AS (
  SELECT label, w, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks WHERE w <> '' GROUP BY 1, 2
),
rk AS (
  SELECT label, w, c,
         row_number() OVER (PARTITION BY label ORDER BY c DESC, w) AS rnk
  FROM ct
)
SELECT label, CAST(rnk AS BIGINT) AS rnk, w AS token, c AS n
FROM rk WHERE rnk <= 5
"""


@query("label_top_terms", _LABEL_TERMS_ORACLE)
def label_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .select("label", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    ct = toks.groupBy("label", "w").agg(F.count(F.lit(1)).alias("c"))
    w = W.partitionBy("label").orderBy(F.col("c").desc(), F.col("w"))
    return (
        ct.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select("label", "rnk", F.col("w").alias("token"), F.col("c").alias("n"))
    )


# ----------------------------------------------------------------------
# pca_power_iteration — top principal direction of the (mean-centered)
# embedding matrix by three fixed power-iteration steps:
#     t = X·v ;  s = Xᵀ·t ;  v ← s / ‖s‖
# This is the canonical iterative-linear-algebra workload (the lineage
# that motivated MapReduce-era PCA/SVD jobs), expressed Spark-first:
# X never materializes as a matrix — it stays the exploded (vec_id, dim,
# value) relation; X·v is a broadcast join on dim + one vec_id-keyed
# quantized sum; Xᵀ·t is a broadcast join on vec_id's t + one dim-keyed
# quantized sum. Per iteration: two partial-aggregated shuffles linear
# in n·d, a 64-row normalization, NOTHING driver-side (v lives as a
# broadcast DataFrame, not a collected literal). Determinism (r10
# audit): the iteration sums are GENERIC doubles (centered values times
# an evolving v), so they use fsum — floor-quantized exact integer sums,
# bit-identical across engines by construction (multiply/add/floor are
# exactly-defined IEEE ops; dsum's per-addend decimal cast carries the
# shortest-repr tail-tie risk instead) — and v ← s/‖s‖ is a raw IEEE
# quotient of those exact sums: both engines iterate on bit-identical
# state with no output re-quantization; v₀ = 1/√64 = 0.125 is exactly
# representable. The oracle is the same three steps unrolled as CTEs.
# ----------------------------------------------------------------------

_PCA_ITERS = 3
_PCA_DIM = 64
_PCA_TSCALE = 12  # X·v term quantization
_PCA_SSCALE = 6   # Xᵀ·t and norm² sums (larger magnitudes)


def _pca_oracle() -> str:
    head = f"""
WITH x AS (
  SELECT vec_id, CAST(j - 1 AS BIGINT) AS dim,
         CAST(embedding[CAST(j AS INT)] AS DOUBLE) AS xx
  FROM embeddings, range(1, {_PCA_DIM + 1}) r(j)
  WHERE j <= len(embedding)
),
mu AS (
  SELECT dim, {fsum_sql("xx", 12)} / CAST(COUNT(*) AS DOUBLE) AS m
  FROM x GROUP BY dim
),
xc AS (
  SELECT x.vec_id, x.dim, x.xx - mu.m AS xv
  FROM x JOIN mu ON x.dim = mu.dim
),
v0 AS (SELECT DISTINCT dim, CAST(0.125 AS DOUBLE) AS vj FROM x)"""
    its = []
    for k in range(1, _PCA_ITERS + 1):
        its.append(f"""
t{k} AS (
  SELECT xc.vec_id, {fsum_sql("xc.xv * v.vj", _PCA_TSCALE)} AS t
  FROM xc JOIN v{k - 1} v ON xc.dim = v.dim
  GROUP BY xc.vec_id
),
s{k} AS (
  SELECT xc.dim, {fsum_sql("xc.xv * t.t", _PCA_SSCALE)} AS s
  FROM xc JOIN t{k} t ON xc.vec_id = t.vec_id
  GROUP BY xc.dim
),
n{k} AS (
  SELECT SQRT({fsum_sql("s * s", _PCA_SSCALE)}) AS nrm FROM s{k}
),
v{k} AS (
  SELECT dim, s / (SELECT nrm FROM n{k}) AS vj
  FROM s{k}
)""")
    tail = f"""
SELECT dim, vj AS component,
       (SELECT nrm FROM n{_PCA_ITERS}) AS eigenvalue_proxy
FROM v{_PCA_ITERS}
"""
    return head + "," + ",".join(its) + tail


@query("pca_power_iteration", _pca_oracle())
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = shared(
        emb.select(
            "vec_id", F.posexplode("embedding").alias("dim_i", "xf")
        ).select(
            "vec_id",
            F.col("dim_i").cast("bigint").alias("dim"),
            F.col("xf").cast("double").alias("xx"),
        )
    )
    # fsum, not dsum/davg: the fixture's float32-origin embeddings include
    # dyadic values (…0625) that are EXACT scale-12 ties, where Spark's
    # HALF_UP and DuckDB's half-even decimal casts genuinely diverge
    # (measured: 5 values / 5 shifted dim-means at sf0.1 before this fix);
    # floor-quantization resolves every tie identically on both engines.
    mu = x.groupBy("dim").agg(
        (fsum(F.col("xx"), 12) / F.count(F.lit(1)).cast("double")).alias("m")
    )
    xc = shared(
        x.join(F.broadcast(mu), "dim").select(
            "vec_id", "dim", (F.col("xx") - F.col("m")).alias("xv")
        )
    )
    v = mu.select("dim", F.lit(0.125).cast("double").alias("vj"))
    nrm = None
    for _it in range(_PCA_ITERS):
        t = xc.join(F.broadcast(v), "dim").groupBy("vec_id").agg(
            fsum(F.col("xv") * F.col("vj"), _PCA_TSCALE).alias("t")
        )
        # t has ONE ROW PER EMBEDDING VECTOR — it scales linearly with the
        # corpus (billions of rows at 100 TB), unlike v (one row per DIM).
        # Size-guarded hint: broadcast while small, degrade to the
        # vec_id-keyed shuffle join Catalyst picks on its own above the cap.
        s = xc.join(bcast_if_small(t), "vec_id").groupBy("dim").agg(
            fsum(F.col("xv") * F.col("t"), _PCA_SSCALE).alias("s")
        )
        # r10 opt (guide §3.3 "materialise an intermediate to truncate the
        # plan"): without a per-iteration lineage cut the nrm and v
        # branches each re-embed the whole previous iteration's subtree,
        # doubling the physical plan per step — the before-plan carried
        # 322 Exchange nodes for 3 iterations. s is DIM-sized (64 rows) at
        # any corpus scale, so the eager localCheckpoint is O(dims); the
        # values are the same fsum-exact sums. The LAST iteration stays
        # uncut so the returned plan still witnesses the guarded
        # bcast_if_small(t) BroadcastHashJoin (tests/test_plan_quality.py)
        # — AQE stage reuse dedupes its doubled s subtree at runtime.
        # Plan: 322 -> 72 Exchange nodes; sf0.1: 6.3 s -> 2.8 s median.
        if _it < _PCA_ITERS - 1:
            s = s.localCheckpoint(eager=True)
        nrm = s.agg(
            F.sqrt(fsum(F.col("s") * F.col("s"), _PCA_SSCALE)).alias("nrm")
        )
        v = s.join(F.broadcast(nrm)).select(
            "dim", (F.col("s") / F.col("nrm")).alias("vj")
        )
    # r10 audit: vj = s/nrm and the eigenvalue proxy are raw IEEE values
    # of fsum-exact (floor-quantized integer) sums — bit-equal across
    # engines by construction, no decimal rounding rule anywhere.
    return v.join(F.broadcast(nrm)).select(
        "dim",
        F.col("vj").alias("component"),
        F.col("nrm").alias("eigenvalue_proxy"),
    )


# ----------------------------------------------------------------------
# centroid_distances — inter-class separation matrix: Euclidean distance
# between every pair of label centroids. The clustering-QA companion to
# `label_centroids`/`cluster_purity` (nearly-coincident centroids mean
# the labels aren't separable in this embedding space). Scale shape: the
# n·d fact explodes ONCE into per-(label, dim) quantized-integer sums
# (partial-aggregated, bounded by K·d), and the pairwise stage runs over
# the K·d centroid table only — broadcast-sized at any corpus scale.
# Exactness: centroids stay RATIONAL (integer sum, count); the distance
# uses the common-denominator trick, d²·(nₐn_b)² = Σ(Sₐn_b − S_bnₐ)² —
# pure DECIMAL(38,0) integer arithmetic until one final sqrt/divide that
# both engines compute from bit-identical inputs (no per-term float
# quantization, which round-ties differently across engines).
# ----------------------------------------------------------------------

_CDIST_ORACLE = f"""
WITH x AS (
  SELECT label, CAST(j - 1 AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * 10000000)
              AS BIGINT) AS q
  FROM embeddings, range(1, 65) r(j)
  WHERE j <= len(embedding)
),
s AS (
  SELECT label, dim,
         CAST(SUM(q) AS BIGINT) AS sq,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM x GROUP BY label, dim
),
p AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(
           CAST(a.sq * b.n - b.sq * a.n AS DECIMAL(38,0))
           * CAST(a.sq * b.n - b.sq * a.n AS DECIMAL(38,0))
         ) AS DECIMAL(38,0)) AS d2s,
         MAX(a.n) AS na, MAX(b.n) AS nb
  FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b,
       SQRT(CAST(CAST(d2s AS VARCHAR) AS DOUBLE))
         / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * 10000000) AS dist
FROM p
"""


@query("centroid_distances", _CDIST_ORACLE)
def centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", F.posexplode("embedding").alias("dim_i", "xf")
    ).select(
        "label",
        F.col("dim_i").cast("bigint").alias("dim"),
        F.round(F.col("xf").cast("double") * 10_000_000)
        .cast("bigint")
        .alias("q"),
    )
    s = x.groupBy("label", "dim").agg(
        F.sum("q").cast("bigint").alias("sq"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a = s.select(
        F.col("label").alias("label_a"),
        "dim",
        F.col("sq").alias("sa"),
        F.col("n").alias("na"),
    )
    b = s.select(
        F.col("label").alias("label_b"),
        "dim",
        F.col("sq").alias("sb"),
        F.col("n").alias("nb"),
    )
    num = (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).cast(
        "decimal(38,0)"
    )
    p = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(num * num).cast("decimal(38,0)").alias("d2s"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
    )
    # r10 audit: raw IEEE — sqrt of an exact integer d², over an exactly
    # representable integer denominator (na*nb*1e7 < 2^53): bit-equal.
    dist = (
        F.sqrt(F.col("d2s").cast("string").cast("double"))
        / (F.col("na").cast("double") * F.col("nb").cast("double") * 10_000_000)
    )
    return p.select("label_a", "label_b", dist.alias("dist"))


# ----------------------------------------------------------------------
# decision_stump — the split-finding primitive of decision-tree training
# (the inner loop of every GBDT/random-forest fit): scan the candidate
# thresholds of a feature (the squared-norm kilobucket of each
# embedding) and score the weighted binary Gini impurity of the
# (label = 0) vs rest partition at each cut. Scale shape: one histogram
# aggregation of the fact (bounded by distinct feature values), one
# cumulative window over that histogram, and the objective evaluates
# per-candidate from exact integer counts — the full candidate curve is
# emitted (is_best flags the argmin, ties to the smallest threshold),
# exactly what a distributed tree trainer materializes per node.
# ----------------------------------------------------------------------

_STUMP_ORACLE = """
WITH f AS (
  SELECT CAST({dot} // 1000 AS BIGINT) AS nk,
         CASE WHEN label = 0 THEN 1 ELSE 0 END AS pos
  FROM embeddings
),
h AS (
  SELECT nk,
         CAST(SUM(pos) AS BIGINT) AS p,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM f GROUP BY nk
),
tot AS (
  SELECT CAST(SUM(p) AS BIGINT) AS tp, CAST(SUM(c) AS BIGINT) AS tn FROM h
),
cum AS (
  SELECT nk,
         CAST(SUM(p) OVER w AS BIGINT) AS pl,
         CAST(SUM(c) OVER w AS BIGINT) AS nl
  FROM h
  WINDOW w AS (ORDER BY nk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
curve AS (
  SELECT c.nk AS threshold, c.nl AS n_left, c.pl AS pos_left,
         (CAST(c.nl * c.nl - c.pl * c.pl
               - (c.nl - c.pl) * (c.nl - c.pl) AS DOUBLE) / CAST(c.nl AS DOUBLE))
         + (CAST((t.tn - c.nl) * (t.tn - c.nl)
                 - (t.tp - c.pl) * (t.tp - c.pl)
                 - ((t.tn - c.nl) - (t.tp - c.pl))
                   * ((t.tn - c.nl) - (t.tp - c.pl)) AS DOUBLE)
            / CAST(t.tn - c.nl AS DOUBLE)) AS gini_obj
  FROM cum c, tot t
  WHERE c.nl < t.tn
)
SELECT threshold, n_left, pos_left, gini_obj,
       gini_obj = (SELECT MIN(gini_obj) FROM curve)
         AND threshold = (SELECT MIN(threshold) FROM curve c2
                          WHERE c2.gini_obj = (SELECT MIN(gini_obj) FROM curve))
         AS is_best
FROM curve
""".format(dot="list_dot_product(q_, q_)")


def _stump_oracle() -> str:
    from hadoop_spark.operators.similarity import int_dot_sql, quantize_sql

    dot = int_dot_sql(quantize_sql("embedding"), quantize_sql("embedding"))
    return _STUMP_ORACLE.replace("list_dot_product(q_, q_)", dot)


@query("decision_stump", _stump_oracle())
def decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = with_quantized(load_table(spark, sf_dir, "embeddings"))
    f = emb.select(
        F.floor(F.col("n2") / 1000).cast("bigint").alias("nk"),
        F.when(F.col("label") == 0, 1).otherwise(0).alias("pos"),
    )
    h = f.groupBy("nk").agg(
        F.sum("pos").cast("bigint").alias("p"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    tot = h.agg(
        F.sum("p").cast("bigint").alias("tp"),
        F.sum("c").cast("bigint").alias("tn"),
    )
    w = W.orderBy("nk").rowsBetween(W.unboundedPreceding, 0)
    cum = h.select(
        F.col("nk").alias("threshold"),
        F.sum("p").over(w).cast("bigint").alias("pl"),
        F.sum("c").over(w).cast("bigint").alias("nl"),
    )
    j = cum.join(F.broadcast(tot)).filter(F.col("nl") < F.col("tn"))
    nl, pl = F.col("nl"), F.col("pl")
    nr = F.col("tn") - nl
    pr = F.col("tp") - pl
    # r10 audit: raw IEEE sum of two exact-int64 quotients — bit-equal;
    # the argmin equality selection matches because min() picks one of
    # the bit-identical values on both engines.
    gini = (
        (nl * nl - pl * pl - (nl - pl) * (nl - pl)).cast("double")
        / nl.cast("double")
    ) + (
        (nr * nr - pr * pr - (nr - pr) * (nr - pr)).cast("double")
        / nr.cast("double")
    )
    curve = shared(
        j.select(
            "threshold",
            nl.alias("n_left"),
            pl.alias("pos_left"),
            gini.alias("gini_obj"),
        )
    )
    best = curve.agg(F.min("gini_obj").alias("best_obj"))
    best_t = (
        curve.join(F.broadcast(best))
        .filter(F.col("gini_obj") == F.col("best_obj"))
        .agg(F.min("threshold").alias("best_t"))
    )
    return (
        curve.join(F.broadcast(best))
        .join(F.broadcast(best_t))
        .select(
            "threshold",
            "n_left",
            "pos_left",
            "gini_obj",
            (
                (F.col("gini_obj") == F.col("best_obj"))
                & (F.col("threshold") == F.col("best_t"))
            ).alias("is_best"),
        )
    )


# ----------------------------------------------------------------------
# silhouette_simplified — per-label clustering quality via the
# simplified (centroid-based) silhouette: a = distance to own label's
# centroid, b = distance to the nearest OTHER centroid, s = (b−a)/
# max(a,b), averaged per label. The standard embedding-space label-QA
# score next to `cluster_purity`/`centroid_distances`. Exactness: the
# centroid stays a RATIONAL (integer sum S, count n) and the point-to-
# centroid distance uses the common-denominator trick d²·n² =
# Σ(n·qⱼ − Sⱼ)² — all DECIMAL(38,0) integers; the sqrt/ratio runs on
# bit-identical doubles. Scale: points explode once (n·d), join the
# broadcast K·d centroid table → linear in n·d·K, map-side arithmetic,
# one final label rollup.
# ----------------------------------------------------------------------

_SIL_ORACLE = f"""
WITH x AS (
  SELECT vec_id, label AS own, CAST(j - 1 AS BIGINT) AS dim,
         CAST(ROUND(CAST(embedding[CAST(j AS INT)] AS DOUBLE) * 10000000)
              AS BIGINT) AS q
  FROM embeddings, range(1, 65) r(j)
  WHERE j <= len(embedding)
),
c AS (
  SELECT own AS clabel, dim,
         CAST(SUM(q) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM x GROUP BY own, dim
),
d2 AS (
  SELECT x.vec_id, x.own, c.clabel,
         CAST(SUM(CAST(c.n * x.q - c.s AS DECIMAL(38,0))
                  * CAST(c.n * x.q - c.s AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS d2s,
         MAX(c.n) AS nc
  FROM x JOIN c ON x.dim = c.dim
  GROUP BY x.vec_id, x.own, c.clabel
),
dist AS (
  SELECT vec_id, own, clabel,
         SQRT(CAST(CAST(d2s AS VARCHAR) AS DOUBLE))
           / (CAST(nc AS DOUBLE) * 10000000) AS d
  FROM d2
),
ab AS (
  SELECT vec_id, own,
         MIN(CASE WHEN clabel = own THEN d END) AS a,
         MIN(CASE WHEN clabel <> own THEN d END) AS b
  FROM dist GROUP BY vec_id, own
),
s AS (
  SELECT own, (b - a) / GREATEST(a, b) AS sil
  FROM ab
)
SELECT own AS label,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       {fsum_sql("sil", 12)} / CAST(COUNT(*) AS DOUBLE) AS mean_silhouette
FROM s GROUP BY own
"""


@query("silhouette_simplified", _SIL_ORACLE)
def silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id",
        F.col("label").alias("own"),
        F.posexplode("embedding").alias("dim_i", "xf"),
    ).select(
        "vec_id",
        "own",
        F.col("dim_i").cast("bigint").alias("dim"),
        F.round(F.col("xf").cast("double") * 10_000_000)
        .cast("bigint")
        .alias("q"),
    )
    x = shared(x)
    c = x.groupBy(F.col("own").alias("clabel"), "dim").agg(
        F.sum("q").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    num = (F.col("n") * F.col("q") - F.col("s")).cast("decimal(38,0)")
    d2 = (
        x.join(F.broadcast(c), "dim")
        .groupBy("vec_id", "own", "clabel")
        .agg(
            F.sum(num * num).cast("decimal(38,0)").alias("d2s"),
            F.max("n").alias("nc"),
        )
    )
    dist = d2.select(
        "vec_id",
        "own",
        "clabel",
        (
            F.sqrt(F.col("d2s").cast("string").cast("double"))
            / (F.col("nc").cast("double") * 10_000_000)
        ).alias("d"),
    )
    ab = dist.groupBy("vec_id", "own").agg(
        F.min(F.when(F.col("clabel") == F.col("own"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("own"), F.col("d"))).alias("b"),
    )
    # r10 audit: sil is a raw IEEE quotient of engine-identical distances,
    # and the per-label mean uses fsum (floor-quantized exact sum) — no
    # decimal rounding rule anywhere in the query.
    sil = (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    s = ab.select("own", sil.alias("sil"))
    mean_sil = fsum(F.col("sil"), 12) / F.count(F.lit(1)).cast("double")
    return s.groupBy(F.col("own").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        mean_sil.alias("mean_silhouette"),
    )
