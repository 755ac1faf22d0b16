"""Event-time window operators over the `events` table.

The reference is batch-only — no watermarks, windows, or stateful operators
exist anywhere in apache/hadoop (SURVEY §1.3, §2.9) — so this module is the
Structured-Streaming *extension*. Every builder takes a DataFrame that may be
batch or streaming: the batch catalog queries (oracle-checked vs DuckDB) and
the streaming tests (readStream → availableNow) run the SAME plan, which is
exactly Spark's unified-API promise.

Scale notes:
- Window aggregation shuffles once on (window, key); AQE coalesces.
- Timestamps are compared in epoch MICROSECONDS (`unix_micros`) everywhere —
  integer arithmetic, timezone-proof, identical in the DuckDB oracle
  (`epoch_us`).
- Double `value` sums go through the decimal-quantized
  :func:`~hadoop_spark.functions.numeric.dsum` so results are independent of
  partitioning/fold order — on a 1000-executor cluster the same query gives
  the same bits every run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from hadoop_spark.functions.numeric import dsum

TUMBLE = "10 minutes"
TUMBLE_US = 600_000_000
SLIDE = "5 minutes"
SLIDE_US = 300_000_000
SESSION_GAP = "30 minutes"
SESSION_GAP_US = 1_800_000_000
WATERMARK_DELAY = "10 minutes"
WATERMARK_DELAY_US = 600_000_000


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Tumbling-window counts + exact value sum per event_type."""
    return (
        events.groupBy(F.window("ts", TUMBLE).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), scale=4).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Sliding-window (10 min window / 5 min slide) counts per event_type;
    each event lands in exactly window/slide = 2 windows."""
    return (
        events.groupBy(F.window("ts", TUMBLE, SLIDE).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            "event_type",
            "n",
        )
    )


def session_aggregate(events: DataFrame) -> DataFrame:
    """Per-user session windows (30-min inactivity gap): a session spans
    [first event, last event + gap). Spark merges adjacent events whose
    gap is < 30 min; an event at exactly +30 min starts a new session."""
    return (
        events.groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("s"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), scale=4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("s.start")).alias("s_start_us"),
            F.unix_micros(F.col("s.end")).alias("s_end_us"),
            "n_events",
            "sum_value",
        )
    )


def keep_first_dedup(events: DataFrame) -> DataFrame:
    """Streaming-dedup semantics in batch: keep the FIRST event per
    (user_id, event_type) in event-time order, ties broken by event_id —
    the deterministic mirror of `dropDuplicates` on a stream (which keeps
    the first arrival). One shuffle on the dedup key."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", F.unix_micros("ts").alias("ts_us"))
    )


def late_events(events: DataFrame, *arrival_cols: str) -> DataFrame:
    """Watermark semantics replayed in batch: process events in arrival
    order (`arrival_cols`, default event_id), track the running max event
    time, and flag events older than (running max − 10 min) — exactly the
    rows a 10-minute watermark would drop. Returns the dropped rows with
    their lateness.

    The running max rides :func:`global_running_max`'s two-level scan
    (range-partition on arrival key → per-partition running max →
    broadcast prefix-max of per-partition maxes), so NO stage funnels the
    whole table through one task — the batch twin now scales like the
    real streaming watermark (O(1) state per partition)."""
    from hadoop_spark.operators.sort import global_running_max

    arrival_cols = arrival_cols or ("event_id",)
    ts_us = F.unix_micros("ts")
    with_max = global_running_max(
        events, ts_us, *arrival_cols, out="__runmax", inclusive=False
    )
    return (
        with_max.withColumn("wm_us", F.col("__runmax") - WATERMARK_DELAY_US)
        .filter(ts_us < F.col("wm_us"))
        .select(
            "event_id",
            "event_type",
            ts_us.alias("ts_us"),
            (F.col("wm_us") - ts_us).alias("lateness_us"),
        )
    )


ATTRIBUTION_WINDOW = "30 minutes"
ATTRIBUTION_US = 1_800_000_000


def click_purchase_attribution(
    clicks: DataFrame, purchases: DataFrame
) -> DataFrame:
    """Stream-stream interval join (conversion attribution): every purchase
    matched to each click by the same user in the PRECEDING 30 minutes.

    The join condition is a time interval on the event-time columns — in
    streaming mode that (plus watermarks on both inputs) is what lets Spark
    bound the join state: click state older than the purchase watermark
    minus 30 min is evicted, so state is O(events in the interval window),
    not O(stream length). Inner joins emit matches eagerly, so append-mode
    output equals the batch join exactly. One shuffle on user_id per side
    at any scale; the interval predicate is evaluated within the matched
    key bucket.
    """
    c = clicks.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr(f"INTERVAL {ATTRIBUTION_WINDOW}")),
    )
    return joined.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("lag_us"),
    )


def stateful_user_counts(events: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a running
    per-user (count, value-sum) maintained in explicit keyed state — the
    Structured-Streaming analogue of a Reducer with cross-batch memory,
    something the reference cannot express at all (its reducers see one
    key's values exactly once, `mapreduce/Reducer.java:147`).

    Batch/stream unification caveat: applyInPandasWithState only runs on
    streams, so the batch-oracle equivalent is a plain groupBy; the test
    asserts stream-final-state == batch-aggregate, the same invariant the
    window builders get from the unified API. The `value` sum is quantized
    to micro-units in INTEGER state so state merge order can't change bits.

    Scale notes: state is keyed by user_id and partitioned by the shuffle
    — state size grows with |distinct users|, not event volume; at 100 TB
    the state store (RocksDB on executors) holds each user exactly once.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, vsum_micro = state.get if state.exists else (0, 0)
        import numpy as np

        for pdf in pdfs:
            n += len(pdf)
            # per-ROW quantization before the sum (same as the batch
            # oracle's round-then-sum) — exact integer accumulation, so
            # batch boundaries and merge order can't change bits. Explicit
            # HALF-UP to match Spark's round (numpy rounds half-even).
            s = pdf["value"].to_numpy(dtype="float64") * 1_000_000
            vsum_micro += int((np.sign(s) * np.floor(np.abs(s) + 0.5)).sum())
        state.update((n, vsum_micro))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value_micro": [vsum_micro],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, sum_value_micro bigint",
        stateStructType="n bigint, vsum_micro bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def batch_user_counts(events: DataFrame) -> DataFrame:
    """Batch oracle for :func:`stateful_user_counts`: same quantized sums
    via groupBy — what the stream's final state must equal."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias(
            "sum_value_micro"
        ),
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: the event stream joined to a slowly-changing
    dimension (`customer`) and aggregated per (tumbling window, market
    segment). The dim side is BROADCAST — in streaming, the static side is
    re-read per micro-batch and never keeps join state (unlike
    stream-stream joins), so this is the zero-state enrichment shape; at
    100 TB of events the only shuffle is the windowed aggregate.

    Works identically on a batch `events` frame (the oracle-checked
    catalog query) and a readStream frame (tests/test_streaming.py) —
    the unified-API contract."""
    from hadoop_spark.operators.join import bcast_if_small

    joined = events.join(
        bcast_if_small(
            dim.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        ),
        "user_id",
    )
    return (
        joined.groupBy(
            F.window("ts", TUMBLE).alias("w"),
            F.col("c_mktsegment").alias("segment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), scale=4).alias("sum_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("w_start_us"),
            "segment",
            "n",
            "sum_value",
        )
    )


# ------------------------------------------------------------- streaming IO

def load_events_stream(spark, sf_dir: str) -> DataFrame:
    """`events.parquet` as a file-source STREAM with the same `ts`
    normalization as the batch loader (sources/tables.py:_load_events):
    TIMESTAMP_NTZ (current µs fixtures) casts to session-UTC TIMESTAMP,
    legacy int64 nanos truncate ns→µs."""
    from pyspark.sql.types import LongType, TimestampNTZType

    from hadoop_spark.sources.tables import _read_parquet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/events.parquet"
    raw_schema = _read_parquet(spark, path).schema
    # shape check through the Hadoop FileSystem API, not os.path: the
    # dataset may live on non-local storage (hdfs://, s3a://), where a
    # driver-local isdir() is always False and would silently route a
    # directory-shaped dataset to the zero-matching glob branch below
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        is_dir = fs.getFileStatus(jpath).isDirectory()
    except Exception:
        import os

        is_dir = os.path.isdir(path)
    if is_dir:
        # Spark-written dataset (scale-probe replicas, user exports): the
        # part files live INSIDE events.parquet/ — stream that directory.
        # A leaf-name glob on the parent would match zero files and the
        # stream would silently process nothing.
        stream = spark.readStream.schema(raw_schema).parquet(path)
    else:
        # single-file fixture (driver-generated testdata): FileStreamSource
        # wants a directory, so stream the sf dir glob-filtered to the file
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    ts_type = raw_schema["ts"].dataType
    if isinstance(ts_type, LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    watermark: tuple[str, str] | None = None,
    timeout_sec: float = 120,
):
    """Execute a streaming plan with availableNow (process everything, then
    stop) into an in-memory sink; returns the sink's rows. `watermark` is
    applied by the CALLER's builder (needs to precede the aggregation).
    Raises TimeoutError if the stream has not drained within `timeout_sec`."""
    spark = stream_df.sparkSession
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    drain(q, timeout_sec, f"memory sink {query_name!r}")
    return spark.sql(f"SELECT * FROM {query_name}")  # noqa: S608


def drain(q: StreamingQuery, timeout_sec: float, output: str) -> None:
    """Wait for an availableNow query to finish, then stop it.

    awaitTermination(timeout) returns False when the stream is still running
    at the deadline; stopping it then would leave `output` holding a partial
    result that callers read as complete, so that raises TimeoutError."""
    try:
        if not q.awaitTermination(timeout_sec):
            raise TimeoutError(
                f"stream {q.name!r} did not drain within {timeout_sec}s; {output} is partial"
            )
    finally:
        q.stop()


def stateful_kmv_distinct(events: DataFrame, k: int = 64) -> DataFrame:
    """Streaming cardinality via a KMV sketch held in keyed state — the
    mergeable-sketch form of streaming COUNT(DISTINCT), which Structured
    Streaming cannot express exactly with bounded state. State per key is
    the K smallest DISTINCT 60-bit portable hashes: set-union + truncate
    is commutative and idempotent, so the final state is independent of
    micro-batch slicing and replay (no quantization discipline needed —
    the merge is exact by construction). Estimate = (K-1)·H / h_(K), the
    same deterministic estimator as the batch `kmv_distinct_sketch`, so
    the drained stream is oracle-checkable against DuckDB bit-for-bit.

    Scale: state is K longs per key (512 B at K=64) — millions of keys fit
    one state store; per-batch work is a set merge over the batch's
    pre-hashed rows (hashing runs JVM-side BEFORE the state operator).
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from hadoop_spark.functions.hashing import portable_hash64

    # NULL user_id hashes to NULL -> NaN in the Arrow batch -> int(NaN)
    # raises inside update(), killing the streaming query; drop it JVM-side
    # (the batch oracle mirrors with WHERE user_id IS NOT NULL)
    hashed = events.filter(F.col("user_id").isNotNull()).select(
        "event_type", portable_hash64(F.col("user_id"), salt="#kmv").alias("h")
    )
    hspace = 1152921504606846975.0  # 16^15 - 1: the 60-bit hash range

    def update(key, pdfs, state: GroupState):
        import numpy as np

        # r11 (guide 4.2): the per-row python set loop is replaced by a
        # vectorized sorted-distinct union — np.union1d returns exactly
        # sorted(set(...)), so truncating to k keeps the identical KMV
        # state and estimate.
        cur = np.asarray(
            list(state.get[0]) if state.exists else [], dtype=np.int64
        )
        for pdf in pdfs:
            cur = np.union1d(cur, pdf["h"].to_numpy(dtype=np.int64))
        best = [int(x) for x in cur[:k]]
        state.update((best,))
        n_seen = len(best)
        est = (
            n_seen
            if n_seen < k
            else int(math.floor((k - 1) * hspace / best[-1]))
        )
        yield pd.DataFrame(
            {"event_type": [key[0]], "est_distinct": [est]}
        )

    return hashed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, est_distinct bigint",
        stateStructType="hashes array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_windowed_kmv(events: DataFrame, k: int = 64) -> DataFrame:
    """Windowed streaming COUNT(DISTINCT): the KMV sketch keyed by
    (event_type, hour window) — the classic "distinct users per window"
    ask that exact streaming aggregation cannot answer with bounded
    state. Window assignment happens map-side (JVM date_trunc) BEFORE the
    state operator, so state is one K-long sketch per (key, window); the
    merge is the same commutative/idempotent set-union as
    `stateful_kmv_distinct`, so micro-batch slicing cannot change the
    drained result and the batch SQL oracle matches bit-for-bit.

    Production note: pair with a watermark + state TTL to retire closed
    windows (state then holds only the open tail); the drain-everything
    form here keeps all windows so the oracle can check every one.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from hadoop_spark.functions.hashing import portable_hash64

    # NULL user_id -> NULL hash -> int(NaN) crash in update(); see
    # stateful_kmv_distinct
    hashed = events.filter(F.col("user_id").isNotNull()).select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("win_start"),
        portable_hash64(F.col("user_id"), salt="#kmvw").alias("h"),
    )
    hspace = 1152921504606846975.0

    def update(key, pdfs, state: GroupState):
        import numpy as np

        # r11 (guide 4.2): vectorized sorted-distinct union, identical to
        # the python set + sorted()[:k] it replaces (see
        # stateful_kmv_distinct).
        cur = np.asarray(
            list(state.get[0]) if state.exists else [], dtype=np.int64
        )
        for pdf in pdfs:
            cur = np.union1d(cur, pdf["h"].to_numpy(dtype=np.int64))
        best = [int(x) for x in cur[:k]]
        state.update((best,))
        n_seen = len(best)
        est = (
            n_seen
            if n_seen < k
            else int(math.floor((k - 1) * hspace / best[-1]))
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "win_start": [key[1]],
                "est_distinct": [est],
            }
        )

    return hashed.groupBy("event_type", "win_start").applyInPandasWithState(
        update,
        outputStructType="event_type string, win_start timestamp,"
        " est_distinct bigint",
        stateStructType="hashes array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_value_histogram(
    events: DataFrame, lo: float = 0.0, width: float = 25.0, nbins: int = 20
) -> DataFrame:
    """Streaming equi-width histogram per key held in keyed state — the
    monitoring primitive behind latency/value dashboards. Bin assignment
    is a JVM expression BEFORE the state operator; state is one
    fixed-length count vector per key and the merge is element-wise
    addition — commutative and associative, so micro-batch slicing and
    replay cannot change the drained result and the batch GROUP BY oracle
    matches bit-for-bit. Per-bin counts are monotone nondecreasing across
    updates, so the drained final state is the per-(key, bin) max.

    Scale: state is `nbins` longs per key; the per-batch work is one
    vectorized bincount over pre-binned rows."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    binned = events.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.least(
            F.lit(nbins - 1),
            F.greatest(
                F.lit(0), F.floor((F.col("value") - lo) / width).cast("int")
            ),
        ).alias("bin"),
    )

    def update(key, pdfs, state: GroupState):
        counts = list(state.get[0]) if state.exists else [0] * nbins
        for pdf in pdfs:
            for b in pdf["bin"].tolist():
                counts[int(b)] += 1
        state.update((counts,))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * nbins,
                "bin": list(range(nbins)),
                "n": counts,
            }
        )

    return binned.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, bin int, n bigint",
        stateStructType="counts array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_ohlc(events: DataFrame) -> DataFrame:
    """OHLC candles per (event_type, hourly bar) as a STREAMING
    aggregation: open/close are min/max over a composite (time, id,
    value) struct — lexicographic struct comparison is a total order, so
    the aggregate is commutative/associative and micro-batch slicing
    cannot change the drained result (the same argument as the KMV
    set-union). All values are micro-quantized BIGINTs before the state
    operator; state per key is five scalars.

    Update-mode emissions are monotone in n_ticks, so the drain keeps
    each key's last (max-n_ticks) row — see `stream_ohlc` in
    plans/queries_stream.py.
    """
    hour_us = 3_600_000_000
    ev = events.select(
        "event_type",
        F.floor(F.unix_micros("ts") / hour_us).cast("bigint").alias("bar"),
        (F.unix_micros("ts") * 4096 + F.col("event_id") % 4096).alias("k"),
        F.round(F.col("value") * 1_000_000).cast("bigint").alias("v_micro"),
    )
    return ev.groupBy("event_type", "bar").agg(
        F.min(F.struct("k", "v_micro")).getField("v_micro").alias("open_micro"),
        F.max("v_micro").alias("high_micro"),
        F.min("v_micro").alias("low_micro"),
        F.max(F.struct("k", "v_micro")).getField("v_micro").alias("close_micro"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


def stateful_capped_sample(events: DataFrame, k: int = 8) -> DataFrame:
    """Deterministic K-row sample per (event_type, hour window) over the
    stream: keep the K events whose 60-bit portable hash of event_id is
    SMALLEST (min-K). Like the KMV sketch, min-K union is commutative and
    idempotent, so the kept set is a pure function of the data — the
    bounded-state streaming form of per-window reservoir sampling, but
    replayable and batch-slicing-independent (a true reservoir depends on
    arrival order). State: K (hash, id) pairs per open window.

    Emitted rows carry n_total (strictly increasing per key), so the
    drain selects each key's final emission and explodes the kept ids.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from hadoop_spark.functions.hashing import portable_hash64

    hashed = events.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("win_start"),
        F.col("event_id").alias("eid"),
        portable_hash64(F.col("event_id"), salt="#caps").alias("h"),
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            hs, ids, n_total = list(state.get[0]), list(state.get[1]), int(state.get[2])
        else:
            hs, ids, n_total = [], [], 0
        pairs = dict(zip(ids, hs))
        for pdf in pdfs:
            n_total += len(pdf)
            for eid, h in zip(pdf["eid"].tolist(), pdf["h"].tolist()):
                pairs[int(eid)] = int(h)
        best = sorted(((h, eid) for eid, h in pairs.items()))[:k]
        state.update(([h for h, _ in best], [eid for _, eid in best], n_total))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "win_start": [key[1]],
                "n_total": [n_total],
                "ids": [[eid for _, eid in best]],
            }
        )

    return hashed.groupBy("event_type", "win_start").applyInPandasWithState(
        update,
        outputStructType="event_type string, win_start timestamp,"
        " n_total bigint, ids array<bigint>",
        stateStructType="hs array<bigint>, ids array<bigint>, n_total bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_BLOOM_WORDS_ST = 16
_BLOOM_BITS_ST = _BLOOM_WORDS_ST * 63  # 63 usable bits/word: BIGINT is signed


def stateful_bloom_membership(events: DataFrame) -> DataFrame:
    """Streaming Bloom filter as keyed state: per event type, a 1008-bit
    filter (16 longs × 63 bits — bit 63 is left clear so the state stays
    inside signed BIGINT) over the double-hashed user ids. Bit-OR is
    commutative AND idempotent, so micro-batch slicing and at-least-once
    replay cannot change the drained filter — the third state algebra in
    the suite next to KMV set-union and count-vector addition. Hashing
    runs JVM-side before the state operator; state is 128 B per key.
    Each update emits the current words; OR-monotonicity means the final
    filter is the element-wise MAX of the updates."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from hadoop_spark.functions.hashing import portable_hash64

    hashed = events.filter(F.col("user_id").isNotNull()).select(
        "event_type",
        (portable_hash64(F.col("user_id"), salt="#bl0") % _BLOOM_BITS_ST).alias("b0"),
        (portable_hash64(F.col("user_id"), salt="#bl1") % _BLOOM_BITS_ST).alias("b1"),
    )
    out_schema = "event_type string, " + ", ".join(
        f"w{i} bigint" for i in range(_BLOOM_WORDS_ST)
    )

    def update(key, pdfs, state: GroupState):
        words = list(state.get[0]) if state.exists else [0] * _BLOOM_WORDS_ST
        for pdf in pdfs:
            for col in ("b0", "b1"):
                for b in pdf[col].tolist():
                    b = int(b)
                    words[b // 63] |= 1 << (b % 63)
        state.update((words,))
        row = {"event_type": [key[0]]}
        row.update({f"w{i}": [words[i]] for i in range(_BLOOM_WORDS_ST)})
        yield pd.DataFrame(row)

    return hashed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="words array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
