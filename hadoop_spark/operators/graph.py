"""Graph construction primitives shared by the graph analytics queries
(`plans/queries_graph.py`, `triangle_count`).

The supplier co-occurrence graph ("suppliers sharing an order") is built
WITHOUT a fact-table self-join: lineitem groups by order (one shuffle,
group size bounded by the lines-per-order cap, TPC-H <= 7), and the
<= C(7,2) = 21 pairs per order are generated MAP-SIDE from the collected
per-order supplier set. A self-join on l_orderkey computes the same pairs
but pays a second full sort of the fact table and emits the pre-distinct
pair stream through a join operator — measured 3.5x slower at sf0.1 and
strictly worse at 100 TB, where sorting the fact table twice dominates.
The bounded group size is what makes collect_set safe here (it is NOT a
general pattern for unbounded groups).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# One shuffle partition per this many edge rows inside bounded-round
# driver loops: every such loop, the connected-components one in
# operators/dedup.py included, pins its width through loop_width. A 450 k-edge
# graph runs 2-wide rounds (per-round cost is scheduler/task dispatch, not
# data); a billion-edge graph gets the full session width.
_LOOP_ROWS_PER_PARTITION = 1_000_000


@contextmanager
def loop_width(spark, n_rows: int):
    """Pin shuffle width for a bounded-round driver loop, derived from the
    MATERIALIZED row count of the loop's edge table — never a constant, so
    the driver's lower-core bench runs and a real cluster both get a width
    proportional to their data (guide §2: scale-adaptive partitioning).
    Only stages that EXECUTE inside the context inherit the width: the
    loop must materialize per round (eager localCheckpoint / count), which
    is exactly the regime the iterative queries here run. Restores the
    session width on exit.

    r10 A/B on pagerank (454 k-edge supplier graph, balanced ABBA ×3):
    session-width 32 rounds med 8.08 s / min 7.41 vs pinned med 4.98 /
    min 4.23 — identical ranks (fsum-exact, partitioning-independent).

    CONCURRENCY CONTRACT (ADVICE r10): this mutates the session-global
    ``spark.sql.shuffle.partitions``, so the session must not build or
    execute OTHER queries concurrently with the context (a second driver
    thread, or a lazy plan captured outside and executed inside, would
    see the pinned/restored width nondeterministically). Every caller in
    this repo is a single-threaded query builder whose loop materializes
    eagerly inside the context; the bench and drive_contract harnesses
    run queries strictly sequentially. A result computed under either
    width is identical by construction — the queries using this are
    partitioning-independent — so a stray width can cost time, never
    correctness."""
    session_width = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    width = max(2, min(session_width, n_rows // _LOOP_ROWS_PER_PARTITION + 2))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        yield width
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def cooccurrence_pairs(
    fact: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Distinct undirected co-occurrence pairs (u < v) of `item_col`
    values sharing a `group_col` value. One shuffle (the groupBy) +
    map-side pair expansion + the distinct."""
    # r10 opt note: a fanout_small(fact) spread of the map side was A/B'd
    # (alternating, one session) and REJECTED — the scan's partial
    # collect_set rides the fact file's orderkey clustering, so the extra
    # round-robin exchange costs more than the parallelism it buys
    # (1.3-1.6 s vs 1.7-1.9 s per build at sf0.1).
    grouped = fact.groupBy(group_col).agg(
        F.array_sort(F.collect_set(item_col)).alias("a")
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
        .select("p.u", "p.v")
        .distinct()
    )
    return pairs


def symmetrize(pairs: DataFrame) -> DataFrame:
    """Undirected (u < v) pair set -> directed edge list (s, d) with both
    orientations."""
    return pairs.select(F.col("u").alias("s"), F.col("v").alias("d")).unionAll(
        pairs.select(F.col("v").alias("s"), F.col("u").alias("d"))
    )


# ----------------------------------------------------------------------
# Degree-oriented wedge closure as an Arrow/numpy kernel (r11).
#
# The wedge trio (triangle_count / clustering_coefficient /
# link_prediction_cn) shares one inner loop: enumerate, at each node s of
# the degree-oriented edge set, every pair of out-neighbors (a wedge),
# and test whether the pair is itself an oriented edge (the closing
# probe). The JVM formulation is a self-join of `oriented` with itself —
# 41 M rows (part graph) / ~350 M rows (supplier graph) of codegen'd
# struct explosion per execution. The kernel below computes the same
# closure vectorized: the oriented edge list (EDGE-sized, cap-guarded —
# never corpus-bound) is collected once, a CSR adjacency + a sorted
# packed-key closing set are broadcast, and node-chunks balanced by
# wedge count enumerate pairs in numpy with strip-chunked flushes
# (the block_near_dup_pairs bounded-memory discipline) and probe closure
# with one searchsorted per flush. Counts are exact integers — identical
# to the join formulation by construction.
#
# Degrade path: above _WEDGE_KERNEL_MAX_EDGES (or on ids outside
# [0, 2^31)) the function returns None and each caller keeps its wedge
# self-join, which remains the 100 TB shape (the oriented out-degree is
# sqrt-bounded, so the join never hits an unbounded hub).
# ----------------------------------------------------------------------

_WEDGE_KERNEL_MAX_EDGES = 16_000_000  # ~384 MB broadcast at the cap
_WEDGE_FLUSH = 2_000_000  # wedges per numpy flush (strip-chunk bound)
_WEDGE_CHUNKS_PER_SLOT = 4  # wedge-balanced chunks per parallelism slot


def _pair_block(k: int, i0: int, budget: int):
    """(ii, jj) index pairs i<j for first-index range starting at i0,
    covering at most `budget` pairs. Returns (ii, jj, next_i0) where
    next_i0 == k-1 when the node is exhausted."""
    import numpy as np

    counts = []
    i1 = i0
    tot = 0
    while i1 < k - 1 and tot < budget:
        c = k - 1 - i1
        counts.append(c)
        tot += c
        i1 += 1
    if not counts:
        # budget exhausted before any first-index fit: caller must flush
        # and retry from the SAME i0 (returning k-1 here would silently
        # drop the node's remaining pairs)
        return None, None, i0
    counts = np.asarray(counts, dtype=np.int64)
    ii = np.repeat(np.arange(i0, i1, dtype=np.int64), counts)
    starts = np.repeat(np.arange(i0, i1, dtype=np.int64) + 1, counts)
    ramp = np.arange(counts.sum(), dtype=np.int64) - np.repeat(
        np.cumsum(counts) - counts, counts
    )
    return ii, starts + ramp, i1


class WedgeKernelResult(NamedTuple):
    """wedge_closure output: the mode-specific partials plus the graph
    stats the kernel computed anyway on the driver (degree table, edge /
    node counts) so callers don't re-aggregate them in Spark."""

    out: DataFrame  # mode-specific partials (see wedge_closure)
    deg: DataFrame  # (node bigint, d bigint) — full undirected degrees
    n_edges: int
    n_nodes: int


def wedge_closure(
    spark,
    pairs: DataFrame,
    mode: str,
    flush_n: int = _WEDGE_FLUSH,
    topk: int | None = None,
) -> WedgeKernelResult | None:
    """Vectorized wedge-closure over an undirected (u < v) pair set.

    The degree orientation itself ((deg, id)-ascending, exactly the
    queries' `lower_first` expression) is computed in numpy from the
    collected pair list — the deg aggregation + two degree joins the JVM
    formulation needs exist only to orient edges, and at edge-list sizes
    the kernel accepts they are pure overhead (and a `limit()`-guarded
    collect of the joined frame funnels through one CollectLimit
    partition; counting `pairs` — persisted by every caller — is free and
    keeps the `toPandas` a parallel Arrow collect). The degree table and
    the edge/node counts fall out of that same pass and are returned so
    callers skip their own deg shuffle / count jobs.

    Modes (all exact-integer, bit-identical to the self-join they
    replace):

    - 'count':      one row per chunk, `n` = closed wedges (triangles).
    - 'per_node':   (node, t) partial per-corner triangle counts
                    (center + both endpoints of every closed wedge);
                    caller sums by node.
    - 'open_pairs': (k, w) counts of NON-closed wedge pairs,
                    k = cs·2³² + ct packed (lex order preserved). Every
                    pair's count is COMPLETE (in-adjacency enumeration
                    groups all of a pair's wedges into its cs-chunk);
                    with `topk` set, each chunk emits only its top-k by
                    (w desc, k asc) — safe for a global top-k because
                    chunk-local completeness makes local pruning exact.

    Returns None (caller keeps its JVM wedge join) when the edge list
    exceeds the cap or ids don't fit the packing — the collect is bounded
    by the cap, never by the corpus.
    """
    import numpy as np
    import pandas as pd

    if pairs.count() > _WEDGE_KERNEL_MAX_EDGES:
        return None
    pdf = pairs.select("u", "v").toPandas()
    schema = {
        "count": "n bigint",
        "per_node": "node bigint, t bigint",
        "open_pairs": "k bigint, w bigint",
    }[mode]
    if len(pdf) == 0:
        return WedgeKernelResult(
            spark.createDataFrame([], schema),
            spark.createDataFrame([], "node bigint, d bigint"),
            0,
            0,
        )
    u = pdf["u"].to_numpy(dtype=np.int64)
    v = pdf["v"].to_numpy(dtype=np.int64)
    lo = min(u.min(), v.min())
    hi = max(u.max(), v.max())
    if lo < 0 or hi >= (1 << 31):
        return None
    # degree of every endpoint, then the queries' exact (deg, id)
    # orientation: s -> t with (deg(s), s) < (deg(t), t)
    ids = np.unique(np.concatenate([u, v]))
    iu = np.searchsorted(ids, u)
    iv = np.searchsorted(ids, v)
    cnt = np.bincount(iu, minlength=len(ids)) + np.bincount(
        iv, minlength=len(ids)
    )
    deg_df = spark.createDataFrame(
        pd.DataFrame({"node": ids, "d": cnt.astype(np.int64)}),
        "node bigint, d bigint",
    )
    du = cnt[iu]
    dv = cnt[iv]
    lower_first = (du < dv) | ((du == dv) & (u < v))
    s = np.where(lower_first, u, v)
    t = np.where(lower_first, v, u)
    dt = np.where(lower_first, dv, du)
    order = np.lexsort((t, dt, s))  # CSR rows sorted by s; nbrs by (dt, t)
    s_s, t_s = s[order], t[order]
    svals, starts = np.unique(s_s, return_index=True)
    off = np.append(starts, len(s_s)).astype(np.int64)
    keys = np.sort((s << 32) | t)  # closing set, packed (ids < 2^31)
    deg = np.diff(off)
    w_per_node = deg * (deg - 1) // 2
    total_w = int(w_per_node.sum())
    if total_w == 0:
        return WedgeKernelResult(
            spark.createDataFrame([], schema), deg_df, len(pdf), len(ids)
        )
    par = max(2, spark.sparkContext.defaultParallelism)

    def balanced_bounds(work: "np.ndarray") -> "np.ndarray":
        total = int(work.sum())
        n_chunks = int(max(1, min(par * _WEDGE_CHUNKS_PER_SLOT, (work > 0).sum())))
        cum = np.cumsum(work)
        targets = (np.arange(1, n_chunks, dtype=np.int64) * total) // n_chunks
        return np.unique(
            np.concatenate(
                [[0], np.searchsorted(cum, targets, side="left") + 1, [len(work)]]
            )
        ).astype(np.int64)

    if mode == "open_pairs":
        # In-adjacency enumeration, grouped by each wedge pair's FIRST
        # endpoint x: every (x, y) count is COMPLETE within x's chunk
        # (all wedge centers contributing to (x, y) are in Nin(x)), so
        # with `topk` set each chunk emits only its local top-k — the
        # output is K rows per chunk instead of one partial per distinct
        # open pair, and no pair ever crosses the Python->JVM boundary
        # twice. Suffix slices: edge (s -> x) at position p of adj[s]
        # pairs x with adj[s][p+1:].
        seg = np.repeat(np.arange(len(svals), dtype=np.int64), deg)
        gpos = np.arange(len(s_s), dtype=np.int64) - off[seg]
        sfx_start_e = off[seg] + gpos + 1
        sfx_stop_e = off[seg] + deg[seg]
        o2 = np.lexsort((s_s, t_s))  # in-CSR rows sorted by t
        tvals, tstarts = np.unique(t_s[o2], return_index=True)
        in_off = np.append(tstarts, len(t_s)).astype(np.int64)
        sfx_start = sfx_start_e[o2]
        sfx_stop = sfx_stop_e[o2]
        work_per_t = np.bincount(
            np.searchsorted(tvals, t_s), weights=(sfx_stop_e - sfx_start_e)
        ).astype(np.int64)
        bounds = balanced_bounds(work_per_t)
        bc = spark.sparkContext.broadcast(
            {
                "nbr": t_s,
                "tvals": tvals,
                "in_off": in_off,
                "sfx_start": sfx_start,
                "sfx_stop": sfx_stop,
                "keys": keys,
                "bounds": bounds,
            }
        )
        chunks = spark.range(0, len(bounds) - 1, 1, numPartitions=len(bounds) - 1)

        def kernel_open(batches):
            import numpy as np
            import pandas as pd

            b = bc.value
            nbr = b["nbr"]
            tvals_, in_off_ = b["tvals"], b["in_off"]
            st, sp = b["sfx_start"], b["sfx_stop"]
            keys_, bounds_ = b["keys"], b["bounds"]
            nk = len(keys_)

            for cdf in batches:
                for c in cdf["id"].to_numpy():
                    sel: list = []  # per-x (packed key, count) survivors
                    for xi in range(int(bounds_[c]), int(bounds_[c + 1])):
                        x = int(tvals_[xi])
                        e, hi_e = int(in_off_[xi]), int(in_off_[xi + 1])
                        partials: list = []
                        while e < hi_e:
                            tot = 0
                            parts: list = []
                            while e < hi_e and tot < flush_n:
                                a, bnd = st[e], sp[e]
                                if bnd > a:
                                    parts.append(nbr[a:bnd])
                                    tot += int(bnd - a)
                                e += 1
                            if parts:
                                ys = np.concatenate(parts)
                                uu, cc = np.unique(ys, return_counts=True)
                                partials.append((uu, cc))
                        if not partials:
                            continue
                        if len(partials) == 1:
                            uu, cc = partials[0]
                        else:
                            uu = np.concatenate([p[0] for p in partials])
                            ww = np.concatenate([p[1] for p in partials])
                            uu, inv = np.unique(uu, return_inverse=True)
                            cc = np.bincount(inv, weights=ww).astype(np.int64)
                        P = (x << 32) | uu
                        pos = np.searchsorted(keys_, P)
                        closed = (pos < nk) & (
                            keys_[np.minimum(pos, nk - 1)] == P
                        )
                        Po, co = P[~closed], cc[~closed].astype(np.int64)
                        if not len(Po):
                            continue
                        if topk is not None and len(Po) > topk:
                            keep = np.lexsort((Po, -co))[:topk]
                            Po, co = Po[keep], co[keep]
                        sel.append((Po, co))
                    if sel:
                        P = np.concatenate([p for p, _ in sel])
                        W = np.concatenate([w for _, w in sel])
                        if topk is not None and len(P) > topk:
                            keep = np.lexsort((P, -W))[:topk]
                            P, W = P[keep], W[keep]
                        yield pd.DataFrame({"k": P, "w": W})

        return WedgeKernelResult(
            chunks.mapInPandas(kernel_open, schema), deg_df, len(pdf), len(ids)
        )

    bounds = balanced_bounds(w_per_node)
    bc = spark.sparkContext.broadcast(
        {"off": off, "nbr": t_s, "svals": svals, "keys": keys, "bounds": bounds}
    )
    chunks = spark.range(0, len(bounds) - 1, 1, numPartitions=len(bounds) - 1)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        b = bc.value
        off_, nbr, svals_, keys_, bounds_ = (
            b["off"],
            b["nbr"],
            b["svals"],
            b["keys"],
            b["bounds"],
        )
        nk = len(keys_)

        for cdf in batches:
            for c in cdf["id"].to_numpy():
                n_closed = 0
                per_node_bufs: list = []  # (node, cnt) partial arrays
                cs_buf: list = []
                ct_buf: list = []
                ctr_buf: list = []  # centers (per_node mode only)
                buffered = 0

                def flush():
                    nonlocal n_closed, buffered, cs_buf, ct_buf, ctr_buf
                    if not buffered:
                        return
                    cs = np.concatenate(cs_buf)
                    ct = np.concatenate(ct_buf)
                    P = (cs << 32) | ct
                    pos = np.searchsorted(keys_, P)
                    closed = (pos < nk) & (keys_[np.minimum(pos, nk - 1)] == P)
                    if mode == "count":
                        n_closed += int(closed.sum())
                    else:  # per_node
                        ctr = np.concatenate(ctr_buf)
                        corners = np.concatenate(
                            [ctr[closed], cs[closed], ct[closed]]
                        )
                        if len(corners):
                            u, inv = np.unique(corners, return_inverse=True)
                            per_node_bufs.append((u, np.bincount(inv)))
                    cs_buf, ct_buf, ctr_buf = [], [], []
                    buffered = 0

                for i in range(int(bounds_[c]), int(bounds_[c + 1])):
                    k = int(off_[i + 1] - off_[i])
                    if k < 2:
                        continue
                    a = nbr[off_[i] : off_[i + 1]]
                    i0 = 0
                    while i0 < k - 1:
                        ii, jj, i0 = _pair_block(k, i0, flush_n - buffered)
                        if ii is None:
                            flush()
                            continue
                        cs_buf.append(a[ii])
                        ct_buf.append(a[jj])
                        if mode == "per_node":
                            ctr_buf.append(
                                np.full(len(ii), svals_[i], dtype=np.int64)
                            )
                        buffered += len(ii)
                        if buffered >= flush_n:
                            flush()
                flush()

                if mode == "count":
                    yield pd.DataFrame({"n": np.asarray([n_closed], dtype=np.int64)})
                else:  # per_node
                    if per_node_bufs:
                        nodes = np.concatenate([u for u, _ in per_node_bufs])
                        cnts = np.concatenate([c_ for _, c_ in per_node_bufs])
                        u, inv = np.unique(nodes, return_inverse=True)
                        tot = np.bincount(inv, weights=cnts).astype(np.int64)
                        yield pd.DataFrame({"node": u, "t": tot})

    return WedgeKernelResult(
        chunks.mapInPandas(kernel, schema), deg_df, len(pdf), len(ids)
    )
