"""Self-test of the benchmark on the sf0.001 fixture.

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that every listed query is registered with an oracle, that each
workload completes a pass with no failed query, traced and untraced, and
that the printed metric names are those in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as bench  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def test_every_listed_query_is_registered_with_an_oracle():
    sys.path.insert(0, ROOT)
    from hadoop_spark.plans import ORACLES, QUERIES, load_all

    load_all()
    for wl in WORKLOADS.values():
        assert len(set(wl.queries)) == len(wl.queries), wl.name
        for q in wl.queries:
            assert q in QUERIES and q in ORACLES, (wl.name, q)


def test_benchmark_json_names_the_printed_metrics_and_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    for key, printed in (("end_to_end", bench.END_TO_END), ("per_layer", bench.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in SPEC[key]} == printed, key


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_completes_a_clean_pass(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload]
    cmd += ["--seed", "1", "--seconds", "1", "--trace", str(trace), "--base", "sf0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= len(WORKLOADS[workload].queries)
    key = "per_layer" if trace else "end_to_end"
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in SPEC[key]}
