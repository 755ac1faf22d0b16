"""External-executable pipe operator — Hadoop Streaming parity.

The reference's flagship UDF story is piping records through any executable
via stdin/stdout (`hadoop-tools/hadoop-streaming/.../PipeMapper.java:39`,
`PipeReducer.java:41`), with a stderr side-channel for counters
(`reporter:counter:<group>,<name>,<amount>`). Every script there runs
through one process driver, `PipeMapRed` (spawn `PipeMapRed.java:207`,
output/err threads `:293`). Here that driver is :func:`_run`; the five
public functions are front-ends that differ only in how a row is encoded,
how stdout is decoded and what happens to stderr.

Spark-first translation: the Arrow-batched Python worker IS the modern
version of this (every pandas UDF is "streaming" in the reference's sense),
so this module exists for literal script parity — `-mapper /bin/grep`-style
jobs — and is the ONE deliberate drop below the DataFrame API in this engine
(SURVEY §7 risk (a)).

Process contract, the same for every front-end:

- One process per partition (not per row), like the reference's
  one-process-per-task. A writer thread feeds stdin while stdout is read
  incrementally, so memory per task is O(pipe buffer) and a partition
  larger than the pipe buffer cannot deadlock.
- A command string runs under ``/bin/sh``. A shipped script runs as
  ``shlex.split(interpreter) + [SparkFiles.get(name)]``.
- The process inherits the executor's environment.
- Text is UTF-8, one line per row, framed by ``\\n`` in both directions
  (binary pipes: no locale dependence, no universal-newline translation).
  A NULL line is skipped. Typed bytes has no NULL, so a NULL value fails
  the task, as it would in the reference.
- A command that stops reading early (``head``) is not an error. A writer
  or stderr-drain exception fails the task, and so does a nonzero exit
  unless ``check_exit=False``.
- stderr goes to the worker's stderr (the executor log). The counter
  variants parse the ``reporter:counter:`` and ``reporter:status:`` lines
  out of it and forward the rest.

Scale: throughput is bounded by the pipe and the external binary, exactly
like Hadoop Streaming. Counters ride a Spark accumulator or the dataflow
itself, the analogues of the reference's counter RPC
(`MR-CORE/mapreduce/Counters.java:41`).
"""

from __future__ import annotations

import itertools
import os
import shlex
import subprocess
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

COUNTER_PREFIX = "reporter:counter:"
STATUS_PREFIX = "reporter:status:"


def _spawn_captured(target):
    """Start a daemon thread that records any exception instead of dying
    silently. Returns (thread, error_slot); after join(), the caller MUST
    re-raise error_slot[0] if present — a writer thread that dies (e.g.
    tb_encode rejecting a NULL, or an OSError on a closed pipe) otherwise
    closes stdin in its finally and the partition yields truncated output
    with no task failure."""
    import threading

    err: list[BaseException] = []

    def run():
        try:
            target()
        except BaseException as e:  # noqa: BLE001 — re-raised on the task thread
            err.append(e)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    return t, err


def _check_exit(proc, command: str, check_exit: bool) -> None:
    """Fail the task on nonzero subprocess exit, like the reference
    (`PipeMapRed.java` `stream.non.zero.exit.is.failure`, default true):
    a mapper that crashed or was OOM-killed must not silently contribute
    a partial partition. `check_exit=False` opts out for commands whose
    nonzero exit is benign (e.g. `grep` with no matches exits 1)."""
    rc = proc.wait()
    if check_exit and rc != 0:
        raise RuntimeError(f"piped command {command!r} exited with code {rc}")


def _run(rows, command, encode, decode, check_exit: bool, drain=None):
    """Pipe one partition's `rows` through one process and yield what
    `decode` reads from its stdout.

    `command` is a shell string or an ``(interpreter argv, shipped file
    name)`` pair from :func:`_ship`. `encode(row)` gives the bytes a row
    writes to stdin. `drain(stderr)`, if given, consumes stderr on its own
    thread; otherwise the process inherits the worker's stderr."""
    if isinstance(command, str):
        args, label = command, command
    else:
        from pyspark import SparkFiles

        interpreter, name = command
        args = [*interpreter, SparkFiles.get(name)]
        label = " ".join([*interpreter, name])
    proc = subprocess.Popen(
        args,
        shell=isinstance(command, str),
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        stderr=None if drain is None else subprocess.PIPE,
    )

    def feed():
        try:
            for r in rows:
                proc.stdin.write(encode(r))
        except BrokenPipeError:
            pass  # the command stopped reading (e.g. head): not an error
        finally:
            try:
                proc.stdin.close()
            except BrokenPipeError:
                pass

    threads = [_spawn_captured(feed)]
    if drain is not None:
        threads.append(_spawn_captured(lambda: drain(proc.stderr)))
    yield from decode(proc.stdout)
    for thread, _ in threads:
        thread.join()
    for _, err in threads:
        if err:
            raise err[0]
    _check_exit(proc, label, check_exit)


def _lines(df: DataFrame, line_col: str | None):
    """The text line each row sends, as an RDD of one-field rows:
    `line_col`, the single column, or a tab-joined rendering of all
    columns (TextOutputFormat's wire format, what a Hadoop Streaming
    mapper would have seen). NULL lines are dropped."""
    if line_col is None and len(df.columns) > 1:
        line = F.concat_ws("\t", *[F.col(c).cast("string") for c in df.columns])
    else:
        line = F.col(line_col or df.columns[0]).cast("string")
    return df.select(line.alias("line")).filter(F.col("line").isNotNull()).rdd


def _encode_line(row) -> bytes:
    return row[0].encode("utf-8") + b"\n"


def _decode_lines(stdout):
    for raw in stdout:
        yield (raw.rstrip(b"\n").decode("utf-8"),)


def _line_frame(spark: SparkSession, rdd, out_col: str) -> DataFrame:
    return spark.createDataFrame(
        rdd, StructType([StructField(out_col, StringType(), True)])
    )


def _drain_reporter(stderr, counts: dict, status: list) -> None:
    """The streaming stderr protocol (`PipeMapRed.java`): sum
    ``reporter:counter:group,name,amount`` lines into `counts`, keep the
    last ``reporter:status:text`` in `status` (the task's status line, like
    the reference's TaskReporter.setStatus), and forward every other line,
    a malformed counter line included, to the worker's stderr."""
    for raw in stderr:
        line = raw.rstrip(b"\n").decode("utf-8", "replace")
        if line.startswith(COUNTER_PREFIX):
            try:
                group, name, amount = line[len(COUNTER_PREFIX):].split(",", 2)
                counts[group, name] = counts.get((group, name), 0) + int(amount)
                continue
            except ValueError:
                pass
        elif line.startswith(STATUS_PREFIX):
            status[:] = [line[len(STATUS_PREFIX):]]
            continue
        sys.stderr.write(line + "\n")
    sys.stderr.flush()


def _ship(spark: SparkSession, script_path: str, interpreter: str):
    """Hadoop Streaming's ``-file`` flag: ship a local script to every
    executor and return the :func:`_run` command for its task-local copy.
    The reference stages the file in the DistributedCache
    (`MR-CORE/mapreduce/filecache/DistributedCache.java:107`); Spark's
    `sc.addFile` + `SparkFiles.get` is the same push-once-per-node
    mechanism — at 1000 executors the script uploads once to the cluster,
    not once per task. `interpreter` is shlex-split, so ``"python3 -u"``
    works."""
    spark.sparkContext.addFile(script_path)
    return shlex.split(interpreter), os.path.basename(script_path)


def _pipe_text(df: DataFrame, command, line_col, out_col, check_exit) -> DataFrame:
    def run_partition(rows):
        return _run(rows, command, _encode_line, _decode_lines, check_exit)

    return _line_frame(
        df.sparkSession, _lines(df, line_col).mapPartitions(run_partition), out_col
    )


def pipe(
    df: DataFrame,
    command: str,
    line_col: str | None = None,
    out_col: str = "line",
    check_exit: bool = True,
) -> DataFrame:
    """Pipe one text line per row through `command` (spawned once per
    partition); the command's stdout lines become the output rows.

    `line_col`: which column carries the line (default: the single column,
    or a tab-joined rendering of all columns — TextOutputFormat's wire
    format, which is what a Hadoop Streaming mapper would have seen).

    `check_exit` mirrors the reference's `stream.non.zero.exit.is.failure`
    (default true): the task fails if the command exits nonzero."""
    return _pipe_text(df, command, line_col, out_col, check_exit)


def pipe_with_counters(
    df: DataFrame,
    command: str,
    line_col: str | None = None,
    out_col: str = "line",
    check_exit: bool = True,
) -> tuple[DataFrame, "CounterAccumulator"]:
    """:func:`pipe` + the streaming counter protocol: the external command's
    stderr lines of the form ``reporter:counter:group,name,amount`` are
    aggregated into a driver-visible counter map (Hadoop's stderr protocol,
    `PipeMapRed.java`). Other stderr output is passed through to the task
    log, like the reference does.

    COUNTER SEMANTICS CAVEAT: the accumulator is updated from inside a
    transformation, so counts are AT-LEAST-ONCE — a retried/speculated
    task, or a second action over the un-cached lineage, adds again
    (Spark only guarantees exactly-once accumulator updates in actions).
    The reference counts only committed task attempts. When counter
    values feed downstream logic (not just progress reporting), use
    :func:`pipe_with_counter_rows`, which emits counters as data and is
    exactly-once per action (tested in tests/test_pipe_counters.py).

    Implementation note: stderr is drained on its own thread while stdout
    streams (the reference's `PipeMapRed.java:293` output/err threads); the
    partition's counts and last status line are added to the accumulators
    once its process has exited cleanly."""
    from pyspark import TaskContext

    spark = df.sparkSession
    acc = CounterAccumulator(spark)
    counters, statuses = acc.acc, acc.status_acc

    def run_partition(rows):
        counts: dict[tuple[str, str], int] = {}
        status: list[str] = []
        yield from _run(
            rows, command, _encode_line, _decode_lines, check_exit,
            lambda stderr: _drain_reporter(stderr, counts, status),
        )
        if counts:
            counters.add(counts)
        if status:
            ctx = TaskContext.get()
            statuses.add({ctx.partitionId() if ctx else -1: status[0]})

    rdd = _lines(df, line_col).mapPartitions(run_partition)
    return _line_frame(spark, rdd, out_col), acc


def pipe_with_counter_rows(
    df: DataFrame,
    command: str,
    line_col: str | None = None,
    out_col: str = "line",
    check_exit: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Retry-exact variant of :func:`pipe_with_counters`: counters are
    emitted AS DATA (one row per (group, name) per partition, appended to
    the partition's output) and aggregated with a normal groupBy, instead
    of added to an accumulator from inside a transformation.

    Why: Spark guarantees exactly-once accumulator updates only in
    ACTIONS; a transformation re-executed by a task retry, speculation, or
    simply a second action on the un-cached lineage adds again, so
    :func:`pipe_with_counters` counts are at-least-once. The reference
    counts only committed task attempts (`MR-CORE/mapreduce/Counters.java`
    via the umbilical protocol). Emitting counter rows into the dataflow
    restores that: whatever attempt's output is committed is the one whose
    counter rows are aggregated — retries and speculative duplicates are
    discarded with the rest of the failed attempt's output.

    Returns ``(out_df, counters_df)`` — both derived from ONE persisted
    pass over the subprocess (the partition runs once; the two frames are
    filters of the same cached combined output), so consuming both does
    not re-run the external command."""
    from pyspark.sql.types import LongType

    from hadoop_spark.sources.tables import shared

    def run_partition(rows):
        counts: dict[tuple[str, str], int] = {}
        for (line,) in _run(
            rows, command, _encode_line, _decode_lines, check_exit,
            lambda stderr: _drain_reporter(stderr, counts, []),
        ):
            yield (line, None, None, None)
        for (group, name), amount in sorted(counts.items()):
            yield (None, group, name, amount)

    schema = StructType(
        [
            StructField(out_col, StringType(), True),
            StructField("__cgroup", StringType(), True),
            StructField("__cname", StringType(), True),
            StructField("__camount", LongType(), True),
        ]
    )
    combined = shared(
        df.sparkSession.createDataFrame(
            _lines(df, line_col).mapPartitions(run_partition), schema
        )
    )
    out_df = combined.filter(F.col("__cgroup").isNull()).select(out_col)
    counters_df = (
        combined.filter(F.col("__cgroup").isNotNull())
        .groupBy(
            F.col("__cgroup").alias("group"), F.col("__cname").alias("name")
        )
        .agg(F.sum("__camount").alias("amount"))
    )
    return out_df, counters_df


def pipe_shipped_script(
    df: DataFrame,
    script_path: str,
    interpreter: str = "python3",
    line_col: str | None = None,
    out_col: str = "line",
    check_exit: bool = True,
) -> DataFrame:
    """Hadoop Streaming's ``-file`` flag: ship a local script to every
    executor (see :func:`_ship`) and pipe text lines through it, run as
    ``shlex.split(interpreter) + [its task-local copy]``."""
    command = _ship(df.sparkSession, script_path, interpreter)
    return _pipe_text(df, command, line_col, out_col, check_exit)


# ----------------------------------------------------------- typed bytes
#
# Hadoop Streaming's binary wire format (`-io typedbytes`;
# `hadoop-streaming/.../typedbytes/TypedBytesInput.java:34`, `Type.java`):
# one type-code byte, then a type-specific big-endian payload. Implemented
# here so a user with a typed-bytes mapper/reducer binary has a migration
# path. Codes are the public spec's full `Type.java` set: 0 bytes,
# 1 byte, 2 bool, 3 int, 4 long, 5 float, 6 double, 7 UTF-8 string,
# 8 vector (count-prefixed, nested values; `TypedBytesInput.java
# readVector`), 9 list (values until the 255 end-marker; `readList`),
# 10 map (count-prefixed key/value pairs; `readMap`). Python list/tuple
# encodes as VECTOR and dict as MAP; both sequence codes decode to a
# Python list, MAP to a dict. BYTE and FLOAT are decode-only (Python has
# no distinct scalar for either — ints encode as INT/LONG, floats as
# DOUBLE — but a foreign binary may emit them and must round-trip).

_TB_BYTES, _TB_BYTE, _TB_BOOL, _TB_INT, _TB_LONG = 0, 1, 2, 3, 4
_TB_FLOAT, _TB_DOUBLE, _TB_STRING = 5, 6, 7
_TB_VECTOR, _TB_LIST, _TB_MAP, _TB_MARKER = 8, 9, 10, 255


def _tb_read_exact(fh, n: int) -> bytes:
    """Read exactly ``n`` bytes or raise — ``fh.read(n)`` on a pipe may
    legally return fewer (short read), which would otherwise decode as a
    silently truncated value (the reference uses ``DataInput.readFully``,
    which throws ``EOFException`` on the same condition)."""
    chunks = []
    need = n
    while need > 0:
        chunk = fh.read(need)
        if not chunk:
            raise ValueError(
                f"typed-bytes: unexpected EOF ({n - need} of {n} bytes read)"
            )
        chunks.append(chunk)
        need -= len(chunk)
    return chunks[0] if len(chunks) == 1 else b"".join(chunks)


def tb_encode(value) -> bytes:
    """Encode one value as a typed-bytes record (`TypedBytesOutput.java`)."""
    import struct

    if isinstance(value, bool):
        return struct.pack(">BB", _TB_BOOL, 1 if value else 0)
    if isinstance(value, int):
        if -(2**31) <= value < 2**31:
            return struct.pack(">Bi", _TB_INT, value)
        return struct.pack(">Bq", _TB_LONG, value)
    if isinstance(value, float):
        return struct.pack(">Bd", _TB_DOUBLE, value)
    if isinstance(value, str):
        raw = value.encode("utf-8")
        return struct.pack(">BI", _TB_STRING, len(raw)) + raw
    if isinstance(value, (bytes, bytearray)):
        return struct.pack(">BI", _TB_BYTES, len(value)) + bytes(value)
    if isinstance(value, (list, tuple)):
        # VECTOR (`TypedBytesOutput.java writeVector`): count, then each
        # element as its own typed-bytes record (nested containers nest).
        return struct.pack(">Bi", _TB_VECTOR, len(value)) + b"".join(
            tb_encode(v) for v in value
        )
    if isinstance(value, dict):
        # MAP (`TypedBytesOutput.java writeMap`): entry count, then each
        # key record followed by its value record.
        return struct.pack(">Bi", _TB_MAP, len(value)) + b"".join(
            tb_encode(k) + tb_encode(v) for k, v in value.items()
        )
    raise TypeError(f"typed-bytes: unsupported type {type(value).__name__}")


def _tb_read_one(fh, code: int):
    """Decode one value whose type-code byte has already been read.

    Every fixed-size and length-prefixed read goes through
    :func:`_tb_read_exact`, so a stream truncated mid-record raises a
    typed-bytes ``ValueError`` (the reference's ``TypedBytesInput.java``
    readers raise ``EOFException`` from ``DataInput.readFully``) instead
    of silently yielding a short value or a bare ``IndexError``."""
    import struct

    if code == _TB_BOOL:
        return _tb_read_exact(fh, 1)[0] != 0
    if code == _TB_BYTE:
        return struct.unpack(">b", _tb_read_exact(fh, 1))[0]
    if code == _TB_INT:
        return struct.unpack(">i", _tb_read_exact(fh, 4))[0]
    if code == _TB_LONG:
        return struct.unpack(">q", _tb_read_exact(fh, 8))[0]
    if code == _TB_FLOAT:
        return struct.unpack(">f", _tb_read_exact(fh, 4))[0]
    if code == _TB_DOUBLE:
        return struct.unpack(">d", _tb_read_exact(fh, 8))[0]
    if code in (_TB_STRING, _TB_BYTES):
        (n,) = struct.unpack(">I", _tb_read_exact(fh, 4))
        raw = _tb_read_exact(fh, n)
        return raw.decode("utf-8") if code == _TB_STRING else raw
    if code == _TB_VECTOR:
        (n,) = struct.unpack(">i", _tb_read_exact(fh, 4))
        return [_tb_read_one(fh, _tb_read_exact(fh, 1)[0]) for _ in range(n)]
    if code == _TB_LIST:
        out = []
        while True:
            nxt = fh.read(1)
            if not nxt:
                raise ValueError("typed-bytes: EOF inside LIST (no 255 marker)")
            if nxt[0] == _TB_MARKER:
                return out
            out.append(_tb_read_one(fh, nxt[0]))
    if code == _TB_MAP:
        (n,) = struct.unpack(">i", _tb_read_exact(fh, 4))
        entries = {}
        for _ in range(n):
            k = _tb_read_one(fh, _tb_read_exact(fh, 1)[0])
            if isinstance(k, list):  # container keys can't be dict keys
                k = tuple(k)
            entries[k] = _tb_read_one(fh, _tb_read_exact(fh, 1)[0])
        return entries
    raise ValueError(f"typed-bytes: unsupported type code {code}")


def tb_decode_stream(fh):
    """Yield decoded values from a typed-bytes byte stream until EOF
    (`TypedBytesInput.java:34` read loop)."""
    while True:
        code_b = fh.read(1)
        if not code_b:
            return
        yield _tb_read_one(fh, code_b[0])


def pipe_typedbytes(
    df: DataFrame,
    command: str,
    out_schema: str,
    check_exit: bool = True,
    ship_script: str | None = None,
) -> DataFrame:
    """:func:`pipe` speaking the typed-bytes protocol instead of text lines:
    each input row's columns are written as consecutive typed-bytes records
    to the command's stdin; stdout is decoded as typed-bytes and regrouped
    into rows of `out_schema` (DDL string, e.g. ``"word string, n bigint"``
    — field count sets the regrouping arity). Nulls are not representable
    in the reference protocol and are rejected, as the reference would —
    the rejection raises INSIDE the writer thread, so it is captured and
    re-raised on the task thread (not a silent truncation).

    ``ship_script``: local path shipped to every executor (streaming's
    ``-file`` + ``-io typedbytes`` combination, see :func:`_ship`);
    ``command`` is then the interpreter, and the executor runs
    ``shlex.split(command) + [SparkFiles.get(basename)]``."""
    spark = df.sparkSession
    if ship_script is not None:
        command = _ship(spark, ship_script, command)
    out_struct = StructType.fromDDL(out_schema)
    n_out = len(out_struct.fields)

    def run_partition(rows):
        values = _run(rows, command, _encode_tb_row, tb_decode_stream, check_exit)
        while row := tuple(itertools.islice(values, n_out)):
            if len(row) < n_out:
                raise ValueError(
                    f"typed-bytes: trailing {len(row)} values do not fill a row"
                )
            yield row

    return spark.createDataFrame(df.rdd.mapPartitions(run_partition), out_struct)


def _encode_tb_row(row) -> bytes:
    return b"".join(map(tb_encode, row))


class CounterAccumulator:
    """Distributed counter map: {(group, name): long}, merged at the driver —
    the Counters analogue (`MR-CORE/mapreduce/Counters.java:41`). Also
    carries the `reporter:status:` side-channel: the last status line each
    partition reported (`PipeMapRed.java` stderr protocol →
    TaskReporter.setStatus), exposed via :meth:`statuses`."""

    def __init__(self, spark: SparkSession):
        from pyspark.accumulators import AccumulatorParam

        class _DictSum(AccumulatorParam):
            def zero(self, value):
                return {}

            def addInPlace(self, a, b):
                for k, v in b.items():
                    a[k] = a.get(k, 0) + v
                return a

        class _DictLastWins(AccumulatorParam):
            def zero(self, value):
                return {}

            def addInPlace(self, a, b):
                a.update(b)
                return a

        self.acc = spark.sparkContext.accumulator({}, _DictSum())
        self.status_acc = spark.sparkContext.accumulator({}, _DictLastWins())

    def value(self) -> dict[tuple[str, str], int]:
        return dict(self.acc.value)

    def statuses(self) -> dict[int, str]:
        """{partition_id: last reported status line}."""
        return dict(self.status_acc.value)
