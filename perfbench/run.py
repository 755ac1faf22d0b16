"""The repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``workloads.py``) through the public API the way a
user does: ``get_session`` → catalog builder ``(spark, sf_dir)`` → action.
The seed generates the inputs (``gen.py``); the program sees only the
generated directory. Every output is checked against the query's DuckDB
oracle (``plans.ORACLES``); a query that raises or mismatches counts as
failed and its time stays in the pass.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` turns on the Spark event log, alternates untraced and traced
passes (or decks of requests) in one session, and reports the per-layer
metrics of the traced ones. Run from the root of a checkout; everything it
writes goes under ``.tmp/`` there.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback

import gen
import tracing
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".tmp", "perfbench")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "throughput_qps": "1/s",
    "latency_p50_s": "s",
    "latency_p75_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_session_s": "s",
    "session.warmup_s": "s",
    "plans.load_all_s": "s",
    "plans.build_s": "s",
    "plans.action_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.task_overhead_s": "s",
    "sources.load_table.calls": "count",
    "sources.fanout_small.calls": "count",
    "sources.fanout_small.repartitioned": "count",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "sources.formats.write_s": "s",
    "sources.output_bytes": "bytes",
    "sources.output_records": "count",
    "sources.files_written": "count",
    "sources.stored_bytes": "bytes",
    "sources.stored_bytes_per_input_byte": "ratio",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.shuffle_write_bytes": "bytes",
    "operators.shuffle_read_bytes": "bytes",
    "operators.cpu_util": "ratio",
    "operators.task_skew": "ratio",
    "operators.python.bytes_sent": "bytes",
    "operators.python.bytes_received": "bytes",
    "operators.python.rows_received": "count",
    "operators.pipe.calls": "count",
    "operators.gc_s": "s",
    "operators.tasks_failed": "count",
    "streaming.run_s": "s",
    "streaming.calls": "count",
    "trace.overhead_s": "s",
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:6.1f}s]: {msg}", file=sys.stderr, flush=True)


# -- environment ----------------------------------------------------------


def configure_env(run_dir: str) -> dict:
    """Point Spark and its Python workers at this checkout and size the
    driver to the machine. Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) // (1 << 20)
    driver_mem = f"{max(1, min(2, mem_gb // 4))}g"
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    old = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=ROOT + (os.pathsep + old if old else ""),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=local,
        SPARK_DRIVER_MEM=driver_mem,
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=tmp,
    )
    sys.path.insert(0, ROOT)
    return {"nproc": cpus, "mem_gb": mem_gb, "driver_mem": driver_mem, "tmp": tmp}


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine: time a hypervisor gave this
    machine's CPUs to others, recorded to explain slow runs."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def cpu_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes: a gauge of how fast this
    machine ran at the time, recorded to explain slow runs."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t0


def descendants() -> set[int]:
    """Pids of every live process this one started, directly or not."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree.update(kids)
        frontier.extend(kids)
    return tree


class RssSampler(threading.Thread):
    """Peak resident set of this process and all its descendants (driver JVM,
    Python workers, pipe subprocesses), sampled from /proc."""

    def __init__(self, period: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        rss = 0
        for p in descendants() | {os.getpid()}:
            try:
                with open(f"/proc/{p}/statm") as f:
                    rss += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return rss

    def run(self) -> None:
        while not self._stop_event.wait(self.period):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


def stop_spark(spark) -> None:
    """Stop the session, end the driver JVM (it exits when its stdin
    closes) and wait until every process the run started has ended, so the
    next run starts on a quiet machine."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants():
        log(f"killing leftover process {pid}")
        os.kill(pid, 9)


# -- correctness ----------------------------------------------------------


def canon(rows, cols) -> list[tuple]:
    """Order-insensitive canonical form of a result set, as the test
    suite compares Spark output with its DuckDB oracle."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return "<NULL>" if v is None else str(v)

    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def pandas_rows(pdf, int_cols: set[str]) -> list[tuple]:
    """A ``toPandas`` reply as the rows ``collect()`` gives, so ``canon``
    compares it with the oracle: Python scalars, None for missing values,
    and integers again in integral columns that pandas widened to float to
    hold a null."""
    import numpy as np
    import pandas as pd

    def py(v, integral: bool):
        if v is None or v is pd.NaT:
            return None
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime()
        if isinstance(v, np.generic):
            v = v.item()
        if isinstance(v, float):
            if math.isnan(v):
                return None
            if integral:
                return int(v)
        return v

    integral = [c in int_cols for c in pdf.columns]
    return [tuple(py(v, i) for v, i in zip(r, integral)) for r in pdf.itertuples(index=False, name=None)]


# -- the run --------------------------------------------------------------


class Run:
    def __init__(self, args, wl, data_dir: str, run_dir: str, env: dict) -> None:
        self.args = args
        self.wl = wl
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.env = env
        self.tracer = tracing.Tracer() if args.trace else None
        self.event_log = os.path.join(run_dir, "eventlog")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.stored: list[tuple[int, int]] = []  # (files, bytes) per traced pass
        self.timed_qids: set[str] = set()  # queries whose spans and jobs count
        self.busy_s = 0.0
        self._lock = threading.Lock()
        with open(os.path.join(data_dir, "layout.json")) as f:
            self.layout = json.load(f)

    # setup: import + load_all + get_session + first trivial action
    def setup(self) -> None:
        t0 = time.perf_counter()
        import hadoop_spark  # noqa: F401
        from hadoop_spark.plans import ORACLES, QUERIES, load_all
        from hadoop_spark.session import get_session

        if self.tracer:
            self.tracer.install()
        t1 = time.perf_counter()
        load_all()
        t2 = time.perf_counter()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.env['tmp']}",
        }
        if self.tracer:
            os.makedirs(self.event_log)
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.rss = RssSampler()
        self.rss.start()
        self.spark = get_session(app_name=f"perfbench_{self.wl.name}", extra_conf=conf)
        t3 = time.perf_counter()
        self.spark.range(1000).selectExpr("sum(id)").collect()
        t4 = time.perf_counter()
        self.queries = QUERIES
        self.setup_s = t4 - t0
        self.layer = {
            "plans.load_all_s": t2 - t1,
            "session.get_session_s": t3 - t2,
            "session.warmup_s": t4 - t3,
        }
        # the expected results, outside every timed section
        import duckdb

        with duckdb.connect() as ddb:
            for name in gen.TABLES:
                ddb.execute(f"CREATE VIEW {name} AS SELECT * FROM '{self.data_dir}/{name}.parquet'")
            self.expected = {}
            for q in self.wl.queries:
                res = ddb.sql(ORACLES[q])
                self.expected[q] = canon(res.fetchall(), res.columns)

    def _count(self, ok: bool, what: str) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.failures.append(what)

    def _call(self, name: str, fn, *args):
        return self.tracer.span(name, fn, *args) if self.tracer else fn(*args)

    def execute(self, q: str, qid: str, fetch: str = "collect", traced: bool = False):
        """Build and run one query; returns (seconds, dataframe, reply), the
        reply None if the query raised."""
        sc = self.spark.sparkContext
        if self.tracer:
            self.tracer.set_qid(qid, traced)
            sc.setLocalProperty(tracing.QID_PROPERTY, qid)
        t0 = time.perf_counter()
        df = None
        try:
            df = self._call("plans.build", self.queries[q], self.spark, self.data_dir)
            fn = df.collect if fetch == "collect" else df.toPandas
            out = self._call("plans.action", fn)
        except Exception as exc:  # a failing query is counted, never dropped
            dt = time.perf_counter() - t0
            log(f"{qid} raised {type(exc).__name__}: {str(exc)[:400]}")
            return dt, df, None
        return time.perf_counter() - t0, df, out

    def check(self, q: str, qid: str, df, out) -> bool:
        """Compare a reply (``collect`` rows or a ``toPandas`` frame) with
        the query's oracle and count it."""
        ok = out is not None
        if ok:
            if isinstance(out, list):
                rows, cols = out, df.columns
            else:
                from pyspark.sql.types import IntegralType

                ints = {f.name for f in df.schema.fields if isinstance(f.dataType, IntegralType)}
                rows, cols = pandas_rows(out, ints), list(out.columns)
            ok = canon(rows, cols) == self.expected[q]
            if not ok:
                log(f"{qid} does not match its oracle")
        self._count(ok, qid)
        return ok

    def run_checked(self, q: str, qid: str, traced: bool = False, fetch: str = "collect") -> tuple[float, bool]:
        """One execution compared with the oracle."""
        self.spark.catalog.clearCache()
        dt, df, out = self.execute(q, qid, fetch, traced)
        return dt, self.check(q, qid, df, out)

    def _stored(self, since: float) -> tuple[int, int]:
        """Files and bytes the queries left under .tmp since ``since``."""
        files = size = 0
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, ".tmp")):
            if dirpath == os.path.join(ROOT, ".tmp"):
                dirnames[:] = [d for d in dirnames if d != "perfbench"]
            for fn in filenames:
                try:
                    st = os.stat(os.path.join(dirpath, fn))
                except OSError:
                    continue
                if st.st_mtime >= since:
                    files += 1
                    size += st.st_size
        return files, size

    def run_batch(self) -> dict:
        # the first pass in a fresh session compiles code and starts Python
        # workers; it is reported on its own and kept out of wall_s
        first = sum(self.run_checked(q, f"w0:{q}")[0] for q in self.wl.queries)
        log("first pass done; timed passes start")
        # Whole passes run until the window has lasted --seconds and at
        # least three have run. A query's time is its fastest successful
        # pass in the window: a GC pause, a pass still warming up or CPU the
        # hypervisor gave to another machine can only lengthen a pass. A
        # query that never succeeds keeps its fastest time, so it is never
        # dropped. A traced run goes untraced, traced, traced, untraced, ...
        # so neither kind gets only the less warm passes, and stops after an
        # even number, at least four.
        ab = self.tracer is not None
        deadline = time.perf_counter() + self.args.seconds
        passes: list[float] = []
        runs = {traced: {q: [] for q in self.wl.queries} for traced in (False, True)}
        while len(passes) < (4 if ab else 3) or time.perf_counter() < deadline or len(passes) % (1 + ab):
            traced = ab and len(passes) % 4 in (1, 2)
            since = time.time() - 1
            tag = f"{'t' if traced else 'p'}{len(passes) + 1}"
            done = [self.run_checked(q, f"{tag}:{q}", traced) for q in self.wl.queries]
            passes.append(sum(dt for dt, _ in done))
            for q, r in zip(self.wl.queries, done):
                runs[traced][q].append(r)
            if traced:
                self.stored.append(self._stored(since))
                self.timed_qids.update(f"{tag}:{q}" for q in self.wl.queries)
                self.busy_s += passes[-1]
        self.units = len(self.stored)

        def fastest(rs: list[tuple[float, bool]]) -> float:
            return min(dt for dt, ok in rs if ok) if any(ok for _, ok in rs) else min(dt for dt, _ in rs)

        best = {q: fastest(rs) for q, rs in runs[False].items()}
        wall = sum(best.values())
        if ab:
            self.overhead_s = sum(fastest(rs) for rs in runs[True].values()) - wall
        plain = [ok for rs in runs[False].values() for _, ok in rs]
        # One client running a fixed list has no spread of request
        # latencies worth a bound: a percentile over a handful of different
        # queries is one query's time, as noisy as that query alone. Both
        # latencies are the mean query time of the warm pass instead.
        return {
            "first_pass_s": first,
            "wall_s": wall,
            "throughput_qps": sum(plain) / len(plain) * len(best) / wall,
            "latency_p50_s": wall / len(best),
            "latency_p75_s": wall / len(best),
            "samples": len(plain),
            "passes": passes,
            "per_query_s": best,
        }

    def run_closed(self) -> dict:
        wl = self.wl
        pending = list(wl.queries)

        def verify(_: int) -> None:  # each query once, checked with its oracle
            while True:
                with self._lock:
                    if not pending:
                        return
                    q = pending.pop()
                self.run_checked(q, f"w0:{q}", fetch="pandas")

        t0 = time.perf_counter()
        self._threads(verify, wl.clients)
        first = time.perf_counter() - t0
        log("verified every query; closed loop starts")
        records: list[list] = []  # [qid, seconds, ok, traced, query, dataframe, reply]
        deadline = time.perf_counter() + self.args.seconds
        ab = self.tracer is not None
        # Requests come from one shared deck holding each query once, dealt
        # in an order the seed shuffles, so every deck is the same mix of
        # queries where independent draws would let the mix (and with it
        # the throughput) change from seed to seed. A deck's time runs from
        # its first request being dealt to the next deck's, so it holds no
        # start-up or drain of the loop. The window ends when a deck runs
        # out after the deadline and after at least four decks, so the
        # median deck is never the first, still-warming one. A traced run
        # deals decks untraced, traced, traced, untraced, ... and stops after
        # an even number.
        rng = random.Random(self.args.seed)
        deck: list[str] = []
        starts: list[float] = []  # when each deck began to be dealt, then the end
        closed = False

        def deal() -> tuple[str, bool] | None:
            nonlocal closed
            with self._lock:
                if not deck:
                    if closed:
                        return None
                    starts.append(time.perf_counter())
                    decks = len(starts) - 1
                    if starts[-1] >= deadline and decks >= 4 and decks % (1 + ab) == 0:
                        closed = True
                        return None
                    deck.extend(rng.sample(wl.queries, len(wl.queries)))
                return deck.pop(), ab and (len(starts) - 1) % 4 in (1, 2)

        def client(i: int) -> None:
            n = 0
            while (dealt := deal()) is not None:
                q, traced = dealt
                qid = f"c{i}r{n}:{q}"
                n += 1
                dt, df, pdf = self.execute(q, qid, fetch="pandas", traced=traced)
                with self._lock:
                    records.append([qid, dt, None, traced, q, df, pdf])

        self._threads(client, wl.clients)
        # every reply is checked with its oracle after the window, so the
        # check holds no client back
        for r in records:
            qid, q, df, pdf = r[0], r[4], r.pop(5), r.pop(5)
            r[2] = self.check(q, qid, df, pdf)
        decks = {False: [], True: []}
        for i in range(len(starts) - 1):
            decks[ab and i % 4 in (1, 2)].append(starts[i + 1] - starts[i])
        plain = [r for r in records if not r[3]]
        traced = [r for r in records if r[3]]
        self.timed_qids = {r[0] for r in traced}
        self.units = len(traced)
        self.busy_s = sum(decks[True])
        wall = statistics.median(decks[False])
        if ab:
            self.overhead_s = statistics.median(decks[True]) - wall
        good = sum(1 for r in plain if r[2]) / len(plain)
        return {
            "first_pass_s": first,
            "wall_s": wall,
            "throughput_qps": good * len(wl.queries) / wall,
            # a failed request misses every latency limit
            "latencies": [r[1] if r[2] else math.inf for r in plain],
            "passes": decks[False],
        }

    @staticmethod
    def _threads(fn, n: int) -> None:
        errors = []

        def guarded(*a):
            try:
                fn(*a)
            except BaseException as exc:  # surfaced after join
                errors.append(exc)
                raise

        threads = [threading.Thread(target=guarded, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]

    def measure(self) -> dict:
        if self.wl.kind == "batch":
            return self.run_batch()
        res = self.run_closed()
        lat = sorted(res.pop("latencies"))
        res["latency_p50_s"] = statistics.median(lat)
        res["latency_p75_s"] = lat[math.ceil(0.75 * len(lat)) - 1]
        res["samples"] = len(lat)
        return res

    def layer_metrics(self) -> dict:
        t = self.tracer
        qids = self.timed_qids
        per = 1.0 / self.units
        selfs = t.self_times(qids)
        calls = t.calls(qids)
        sm = tracing.spark_metrics(self.event_log, qids)
        files = statistics.median(f for f, _ in self.stored) if self.stored else 0
        stored = statistics.median(b for _, b in self.stored) if self.stored else 0
        input_bytes = sum(v["bytes"] for v in self.layout["tables"].values())
        m = dict(self.layer)
        m.update(
            {
                "plans.build_s": selfs["plans.build"] * per,
                "plans.action_s": selfs["plans.action"] * per,
                "plans.jobs": sm.get("jobs", 0) * per,
                "plans.stages": sm.get("stages", 0) * per,
                "plans.tasks": sm.get("tasks", 0) * per,
                "plans.task_overhead_s": sm.get("task_overhead_s", 0) * per,
                "sources.load_table.calls": calls["sources.load_table"] * per,
                "sources.fanout_small.calls": calls["sources.fanout_small"] * per,
                "sources.fanout_small.repartitioned": sum(t.repartitioned[q] for q in qids) * per,
                "sources.input_bytes": sm.get("input_bytes", 0) * per,
                "sources.input_records": sm.get("input_records", 0) * per,
                "sources.formats.write_s": selfs["sources.formats.write"] * per,
                "sources.output_bytes": sm.get("output_bytes", 0) * per,
                "sources.output_records": sm.get("output_records", 0) * per,
                "sources.files_written": files,
                "sources.stored_bytes": stored,
                "sources.stored_bytes_per_input_byte": stored / input_bytes,
                "operators.executor_run_s": sm.get("executor_run_s", 0) * per,
                "operators.executor_cpu_s": sm.get("executor_cpu_s", 0) * per,
                "operators.shuffle_write_bytes": sm.get("shuffle_write_bytes", 0) * per,
                "operators.shuffle_read_bytes": sm.get("shuffle_read_bytes", 0) * per,
                "operators.cpu_util": sm.get("executor_cpu_s", 0) / (self.busy_s * self.env["nproc"]),
                "operators.task_skew": sm.get("task_skew", 1.0),
                "operators.python.bytes_sent": sm.get("python_bytes_sent", 0) * per,
                "operators.python.bytes_received": sm.get("python_bytes_received", 0) * per,
                "operators.python.rows_received": sm.get("python_rows_received", 0) * per,
                "operators.pipe.calls": calls["operators.pipe"] * per,
                "operators.gc_s": sm.get("gc_s", 0) * per,
                "operators.tasks_failed": sm.get("tasks_failed", 0) * per,
                "streaming.run_s": selfs["streaming.run"] * per,
                "streaming.calls": calls["streaming.run"] * per,
                "trace.overhead_s": self.overhead_s,
            }
        )
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base", choices=sorted(gen.BASES), help="override the workload's base input")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hadoop_spark", "session.py")):
        log(f"no hadoop_spark package next to {HERE}; run from the root of a full checkout")
        return 2
    wl = WORKLOADS[args.workload]
    base = args.base or wl.base
    factor = wl.factor if base == wl.base else 1

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = configure_env(run_dir)
    data_dir = gen.build(base, factor, args.seed, os.path.join(WORK, "data"))
    log(f"inputs ready in {data_dir}")
    run = Run(args, wl, data_dir, run_dir, env)
    steal0 = steal_ticks()
    probe0 = cpu_probe_s()
    try:
        run.setup()
        version = run.spark.version
        log(f"setup took {run.setup_s:.2f}s")
        try:
            res = run.measure()
        finally:
            log("measured; stopping the session")
            peak = run.rss.stop()
            stop_spark(run.spark)
        steal1 = steal_ticks()
        probe1 = cpu_probe_s()
        if args.trace:  # the event log is complete once the session stopped
            metrics = run.layer_metrics()
    finally:
        # generated inputs and the queries' scratch outputs for them
        scratch = os.path.join(ROOT, ".tmp")
        basename = os.path.basename(data_dir)
        for d in os.listdir(scratch):
            if d != "perfbench":
                shutil.rmtree(os.path.join(scratch, d, basename), ignore_errors=True)
        shutil.rmtree(data_dir, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        units = PER_LAYER
        spans_dir = os.path.join(WORK, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        run.tracer.write(os.path.join(spans_dir, f"{wl.name}-s{args.seed}-{os.getpid()}.jsonl"))
    else:
        metrics = {
            "setup_s": run.setup_s,
            "wall_s": res["wall_s"],
            "throughput_qps": res["throughput_qps"],
            "latency_p50_s": res["latency_p50_s"],
            "latency_p75_s": res["latency_p75_s"],
            "peak_rss_mb": peak / (1 << 20),
        }
        units = END_TO_END
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "input": {"dir": os.path.basename(data_dir), **run.layout},
        "nproc": env["nproc"],
        "driver_mem": env["driver_mem"],
        "pyspark": version,
        "loadavg": os.getloadavg(),
        "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "cpu_probe_s": [probe0, probe1],
        "samples": res["samples"],
        "first_pass_s": res["first_pass_s"],
        "passes": res.get("passes"),
        "per_query_s": res.get("per_query_s"),
        "failures": run.failures,
    }
    print(json.dumps({"perfbench_record": record}))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
