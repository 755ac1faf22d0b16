"""Workload definitions: which catalog queries run, on which input, how.

``kind`` is ``batch`` (one client runs the query list in order, pass after
pass) or ``closed`` (``clients`` threads share one session; each sends its
next request, drawn by the seed from ``queries``, only after the previous
reply was fetched with ``toPandas``).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str
    base: str
    factor: int
    queries: tuple[str, ...]
    clients: int = 1


WORKLOADS = {
    w.name: w
    for w in (
        # One client runs a mixed batch on a x2 replica of sf0.01: JVM scan,
        # sampling and total-order sort; the Python boundary
        # (Arrow UDAF, typed-bytes pipe over the embeddings, stateful Python
        # streaming); and a routed write and read-back of the orders through
        # the sources layer. Every one reads a table the replica factor
        # scales.
        Workload(
            "batch_mixed",
            "batch",
            "sf0.01",
            2,
            (
                "total_order_sort routed_write_read stateful_running_agg "
                "tb_vector_pipe pandas_udaf_sumsq"
            ).split(),
        ),
        # MRBench analogue: many small read-only requests, where plan
        # building, job and task scheduling and the sharing of one session
        # dominate. No Python UDFs and no writes: the no-change control for
        # changes to those layers.
        Workload(
            "interactive",
            "closed",
            "sf0.01",
            1,
            (
                "tpch_q1 tpch_q3 tpch_q6 tpch_q10 tpch_q12 tpch_q14 tpch_q19 wordcount "
                "grep topk_per_group semi_join anti_join broadcast_dim_join funnel_counts "
                "cohort_retention global_topk rollup_agg hll_sketch lag_features "
                "percentile_profile"
            ).split(),
            clients=4,
        ),
    )
}
