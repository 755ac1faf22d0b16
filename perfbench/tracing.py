"""Traced run: spans around calls into each layer, timed from outside the
program, and Spark task metrics read back from the event log.

``Tracer.install`` wraps public functions of the program's layers before
``plans.load_all()`` imports the query modules, because ``from … import f``
binds at import time. Each wrapped call records a span (name, start, end,
parent, query id) in memory; ``write`` saves them at exit. The runner tags
each query's Spark jobs with the local property ``perfbench.qid``, and
``spark_metrics`` attributes the event log's task metrics to those ids.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import statistics
import threading
import time
from collections import Counter, defaultdict

QID_PROPERTY = "perfbench.qid"

# (module, functions, span name). Order matters: a module that imports a
# wrapped function by name must be imported after the function is wrapped.
WRAPPED = (
    ("hadoop_spark.sources.tables", ("load_table",), "sources.load_table"),
    ("hadoop_spark.sources.tables", ("fanout_small",), "sources.fanout_small"),
    (
        "hadoop_spark.sources.formats",
        (
            "write_kv_text",
            "routed_write",
            "write_named_outputs",
            "write_sequence_file",
            "write_jdbc",
            "distcp",
            "compact",
        ),
        "sources.formats.write",
    ),
    ("hadoop_spark.sources.bucketed", ("write_bucketed",), "sources.formats.write"),
    ("hadoop_spark.operators.layout", ("write_zordered",), "sources.formats.write"),
    (
        "hadoop_spark.operators.pipe",
        ("pipe", "pipe_with_counters", "pipe_with_counter_rows", "pipe_shipped_script", "pipe_typedbytes"),
        "operators.pipe",
    ),
    ("hadoop_spark.streaming.windows", ("run_to_memory",), "streaming.run"),
    ("hadoop_spark.streaming.incremental", ("stream_merge_to_snapshot",), "streaming.run"),
)

# Spark SQL nodes that cross the Python boundary (their "number of output
# rows" is the rows received back from Python workers).
PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.repartitioned: Counter = Counter()
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- spans -------------------------------------------------------------

    def set_qid(self, qid: str | None, on: bool) -> None:
        """Attribute this thread's next calls to ``qid``; record spans for
        them only if ``on``."""
        self._local.qid = qid
        self._local.on = on

    def span(self, name: str, fn, *args, **kwargs):
        if not getattr(self._local, "on", False):
            return fn(*args, **kwargs)
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {"name": name, "parent": parent, "qid": getattr(self._local, "qid", None)}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            out = self.span(name, fn, *args, **kwargs)
            traced_call = getattr(self._local, "on", False)
            if traced_call and name == "sources.fanout_small" and args and out is not args[0]:
                self.repartitioned[getattr(self._local, "qid", None)] += 1
            return out

        return traced

    def install(self) -> None:
        """Wrap the layer functions; call before ``plans.load_all()``."""
        for module, names, span_name in WRAPPED:
            mod = importlib.import_module(module)
            for attr in names:
                setattr(mod, attr, self._wrap(span_name, getattr(mod, attr)))

    def self_times(self, qids: set[str]) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover, over spans of the given query ids."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["qid"] in qids and "end" in s:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def calls(self, qids: set[str]) -> Counter:
        return Counter(s["name"] for s in self.spans if s["qid"] in qids)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _python_metric_ids(plan: dict, out: dict[str, set]) -> None:
    is_python = any(m in plan.get("nodeName", "") for m in PYTHON_NODE_MARKERS)
    for m in plan.get("metrics", []):
        name = m.get("name")
        if name in ("data sent to Python workers", "data returned from Python workers"):
            out[name].add(m["accumulatorId"])
        elif is_python and name == "number of output rows":
            out["rows"].add(m["accumulatorId"])
    for c in plan.get("children", []):
        _python_metric_ids(c, out)


def spark_metrics(event_log_dir: str, qids: set[str]) -> dict[str, float]:
    """Sum the event log's task metrics over the jobs tagged with ``qids``."""
    stage_qid: dict[int, str] = {}
    jobs = 0
    py_ids: dict[str, set] = defaultdict(set)
    totals: Counter = Counter()
    stage_task_times: dict[int, list[float]] = defaultdict(list)
    stages_done: set[int] = set()
    for path in glob.glob(f"{event_log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    qid = (ev.get("Properties") or {}).get(QID_PROPERTY)
                    if qid in qids:
                        jobs += 1
                        for sid in ev["Stage IDs"]:
                            stage_qid[sid] = qid
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _python_metric_ids(ev.get("sparkPlanInfo", {}), py_ids)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_qid:
                        stages_done.add(sid)
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_qid:
                    _add_task(ev, totals, stage_task_times, py_ids)
    skew_num = skew_den = 0.0
    for times in stage_task_times.values():
        med = statistics.median(times)
        if med > 0:
            weight = sum(times)
            skew_num += weight * max(times) / med
            skew_den += weight
    totals["jobs"] = jobs
    totals["stages"] = len(stages_done)
    totals["task_skew"] = skew_num / skew_den if skew_den else 1.0
    return dict(totals)


def _add_task(ev: dict, totals: Counter, stage_task_times: dict, py_ids: dict) -> None:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    # a task killed before it reported (a cancelled job) has no finish time
    duration_ms = max(0, info["Finish Time"] - info["Launch Time"])
    totals["tasks"] += 1
    if ev["Task End Reason"]["Reason"] != "Success":
        totals["tasks_failed"] += 1
    run_ms = m.get("Executor Run Time", 0)
    totals["executor_run_s"] += run_ms / 1e3
    totals["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    totals["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    totals["task_overhead_s"] += max(
        0,
        duration_ms
        - run_ms
        - m.get("Executor Deserialize Time", 0)
        - m.get("Result Serialization Time", 0)
        - info.get("Getting Result Time", 0),
    ) / 1e3
    sw = m.get("Shuffle Write Metrics", {})
    sr = m.get("Shuffle Read Metrics", {})
    totals["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    totals["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    inp = m.get("Input Metrics", {})
    out = m.get("Output Metrics", {})
    totals["input_bytes"] += inp.get("Bytes Read", 0)
    totals["input_records"] += inp.get("Records Read", 0)
    totals["output_bytes"] += out.get("Bytes Written", 0)
    totals["output_records"] += out.get("Records Written", 0)
    stage_task_times[ev["Stage ID"]].append(max(run_ms, 0) / 1e3)
    for acc in info.get("Accumulables", []):
        aid, upd = acc.get("ID"), acc.get("Update")
        if not isinstance(upd, (int, float)) and not (isinstance(upd, str) and upd.isdigit()):
            continue
        if aid in py_ids["data sent to Python workers"]:
            totals["python_bytes_sent"] += int(upd)
        elif aid in py_ids["data returned from Python workers"]:
            totals["python_bytes_received"] += int(upd)
        elif aid in py_ids["rows"]:
            totals["python_rows_received"] += int(upd)
