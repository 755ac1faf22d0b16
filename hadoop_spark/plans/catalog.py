"""Named query catalog — the driver/judge contract.

Every operator claimed in SURVEY.md §2 registers here twice: a Spark builder
``(spark, sf_dir) -> DataFrame`` in ``QUERIES`` and (when SQL-expressible) an
equivalent ANSI-SQL string for the DuckDB oracle in ``ORACLES``. The driver
runs both at sf0.01 and compares row count + schema + order-insensitive value
hash, so:

- every computed column is aliased identically on both sides;
- floating-point aggregates are computed via per-row DOUBLE arithmetic
  (IEEE-exact, engine-independent) quantized to an integer grid before
  SUM (exact integer arithmetic), then cast back to DOUBLE — bit-identical
  across Spark and DuckDB with no rounding heuristics (conventions below);
- anything order-sensitive (top-k, ranks) ties-breaks on a unique key.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_LOADED = False


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is the DuckDB-equivalent SQL.

    Queries without an oracle get the driver's weaker rows-only check — keep
    those to genuinely non-SQL-expressible ops (streaming state, subprocess
    pipes).
    """

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Quantization conventions every query must keep, so its output is
# bit-identical across Spark and DuckDB:
#   - FINAL outputs are raw IEEE values of engine-identical exact operands;
#     no DECIMAL(18,N) finalization of a computed quotient (the two engines
#     can round a shortest-repr tie differently).
#   - Sums of GENERIC doubles (quotients, centered values, float32-origin
#     embeddings) use functions/numeric.fsum: floor-quantized exact integer
#     sums, bit-identical by construction. dsum is only for ON-GRID addends
#     (integer cents, products of 2-decimal sources), which sit half a step
#     from any tie boundary, so the decimal cast is deterministic.
#   - ROUND-to-integer (scale-0) quantizations are exempt: the .5 boundary
#     is exactly representable and both engines round integer ties away
#     from zero.
#   - Threshold compares (keep flags, outlier flags) run on the raw
#     engine-identical doubles; quantizing both comparands would add a tie
#     risk.


def load_all() -> None:
    """Import every query module (side effect: registry population)."""
    global _LOADED
    if _LOADED:
        return
    from hadoop_spark.plans import (  # noqa: F401
        queries_tpch2,
        queries_sort,
        queries_join,
        queries_similarity,
        queries_text,
        queries_cluster,
        queries_stream,
        queries_mlprep,
        queries_workloads,
        queries_agg,
        queries_core,
        queries_dedup,
        queries_io,
        queries_tpch,
        queries_lm,
        queries_graph,
        queries_stats,
        queries_link,
        queries_basket,
    )

    _LOADED = True
