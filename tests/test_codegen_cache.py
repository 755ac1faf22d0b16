"""The driver's generated-code cache holds the engine's working set.

Spark keeps the classes it compiles for whole-stage code generation and
expressions in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
entries (default 100). perfbench's ``interactive`` mix of 20 queries
generates ~185 classes, and an LRU cache smaller than a cyclic working set
misses on every access: each replay of the mix recompiled ~170 of them.
``get_session`` sizes the cache to hold the whole catalog, so a replay
compiles next to nothing.

The test counts compiles with Spark's own counter instead of reading the
conf: for a static conf on a JVM that already runs, ``getOrCreate`` writes
the value into the session conf while the live cache keeps its old size.
"""

from __future__ import annotations

from hadoop_spark.plans import QUERIES, load_all
from perfbench.workloads import WORKLOADS
from tests.conftest import SF_DIR

load_all()

# Compiles allowed over the two replays. Under AQE the broadcast build side
# of cohort_retention and tpch_q3 can flip from run to run, and a plan form
# not seen before compiles its classes once (one replay compiled 9).
SLACK = 30


def test_replayed_interactive_mix_compiles_almost_nothing(spark):
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiled = codegen.METRIC_COMPILATION_TIME()  # one sample per compile
    per_round = []
    for _ in range(3):
        before = compiled.getCount()
        for q in WORKLOADS["interactive"].queries:
            QUERIES[q](spark, SF_DIR).toPandas()
        per_round.append(compiled.getCount() - before)
    assert sum(per_round[1:]) <= SLACK, f"classes compiled per round of the mix: {per_round}"
