"""Pipe operator: external-process round trip + the Hadoop Streaming
stderr counter protocol (`reporter:counter:group,name,amount` →
accumulator), mirroring hadoop-streaming's PipeMapRed counter plumbing."""

from __future__ import annotations

import io

import pytest

import hadoop_spark.operators.pipe as pipe_mod
from hadoop_spark.operators.pipe import pipe, pipe_with_counters
from hadoop_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

COUNTER_SCRIPT = (
    "python3 -c '"
    "import sys\n"
    "n = 0\n"
    "for line in sys.stdin:\n"
    "    n += 1\n"
    "    sys.stdout.write(line.upper())\n"
    'sys.stderr.write(f"reporter:counter:io,lines,{n}\\n")\n'
    'sys.stderr.write("not a counter line\\n")\n'
    "'"
)


def test_pipe_roundtrip(spark):
    nation = load_table(spark, SF_DIR, "nation").select("n_name")
    out = pipe(nation, "cat")
    assert sorted(r.line for r in out.collect()) == sorted(
        r.n_name for r in nation.collect()
    )


def test_pipe_with_counters(spark):
    nation = load_table(spark, SF_DIR, "nation").select("n_name")
    n = nation.count()
    out, counters = pipe_with_counters(nation, COUNTER_SCRIPT)
    rows = [r.line for r in out.collect()]
    assert sorted(rows) == sorted(r.n_name.upper() for r in nation.collect())
    assert counters.value() == {("io", "lines"): n}


def test_observe_metrics(spark):
    """Counters-from-user-code parity without a subprocess: df.observe is
    the DataFrame-native accumulator (`MR-CORE/mapreduce/Counters.java:41`
    analogue)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    li = load_table(spark, SF_DIR, "lineitem")
    obs = Observation("counters")
    observed = li.observe(
        obs, F.count(F.lit(1)).alias("rows"), F.sum("l_linenumber").alias("lines")
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    want = li.selectExpr("count(1)", "sum(l_linenumber)").collect()[0]
    assert got["rows"] == want[0] and got["lines"] == want[1]


def test_pipe_shipped_script(spark, tmp_path):
    """DistributedCache/-file parity: the mapper script is shipped via
    sc.addFile and resolved executor-side with SparkFiles.get."""
    from hadoop_spark.operators.pipe import pipe_shipped_script

    script = tmp_path / "upper_mapper.py"
    script.write_text(
        "import sys\nfor line in sys.stdin:\n    sys.stdout.write(line.upper())\n"
    )
    nation = load_table(spark, SF_DIR, "nation").select("n_name")
    out = pipe_shipped_script(nation, str(script))
    assert sorted(r.line for r in out.collect()) == sorted(
        r.n_name.upper() for r in nation.collect()
    )


def test_pipe_counter_rows_exactly_once(spark):
    """Counters-as-data (pipe_with_counter_rows) are exactly-once per
    action: both frames come from one persisted subprocess pass, and
    repeated actions return identical counter totals. The accumulator
    variant is at-least-once under lineage re-execution — demonstrated
    here by running two actions over the un-cached piped frame and
    watching the accumulator double, the divergence the reference's
    committed-attempt-only Counters semantics does not have."""
    from hadoop_spark.operators.pipe import pipe_with_counter_rows

    nation = load_table(spark, SF_DIR, "nation").select("n_name")
    n = nation.count()

    out, counters = pipe_with_counter_rows(nation, COUNTER_SCRIPT)
    try:
        assert sorted(r.line for r in out.collect()) == sorted(
            r.n_name.upper() for r in nation.collect()
        )
        first = {(r.group, r.name): r.amount for r in counters.collect()}
        second = {(r.group, r.name): r.amount for r in counters.collect()}
        assert first == {("io", "lines"): n}
        assert second == first  # exactly-once per action, every action
    finally:
        spark.catalog.clearCache()

    # the accumulator variant double-counts across two actions
    out2, acc = pipe_with_counters(nation, COUNTER_SCRIPT)
    out2.count()
    out2.count()  # re-executes the transformation -> adds again
    assert acc.value() == {("io", "lines"): 2 * n}


def test_pipe_nonzero_exit_fails_task(spark):
    """PipeMapRed parity: a mapper exiting nonzero must fail the task, not
    silently contribute a truncated partition; check_exit=False opts out."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from hadoop_spark.operators.pipe import pipe_with_counters

    nation = load_table(spark, SF_DIR, "nation").select("n_name")
    bad = "head -3; exit 9"
    out, _ = pipe_with_counters(nation.coalesce(1), bad)
    with pytest.raises(Py4JJavaError):
        out.collect()
    out_ok, _ = pipe_with_counters(nation.coalesce(1), bad, check_exit=False)
    assert len(out_ok.collect()) == 3


def test_pipe_writer_thread_error_fails_task(spark):
    """A writer-thread crash (e.g. typed-bytes rejecting a NULL) must fail
    the task instead of silently truncating the partition's output."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import functions as F

    from hadoop_spark.operators.pipe import pipe_typedbytes

    df = spark.range(3).select(
        F.when(F.col("id") == 1, None).otherwise(F.col("id")).alias("k")
    )
    out = pipe_typedbytes(df.coalesce(1), "cat", "k bigint")
    with pytest.raises(Py4JJavaError):
        out.collect()


def test_pipe_status_protocol(spark):
    """`reporter:status:<text>` (PipeMapRed stderr protocol): last status
    line per partition wins, surfaced on the counter handle."""
    script = (
        "python3 -c '"
        "import sys\n"
        "for line in sys.stdin:\n"
        "    sys.stdout.write(line)\n"
        'sys.stderr.write("reporter:status:halfway\\n")\n'
        'sys.stderr.write("reporter:counter:io,done,1\\n")\n'
        'sys.stderr.write("reporter:status:finished cleanly\\n")\n'
        "'"
    )
    nation = load_table(spark, SF_DIR, "nation").select("n_name").repartition(2)
    out, counters = pipe_with_counters(nation, script)
    out.count()
    statuses = counters.statuses()
    assert set(statuses.values()) == {"finished cleanly"}
    assert len(statuses) == 2  # one per partition
    assert counters.value() == {("io", "done"): 2}


# The process contract every text front-end shares (operators/pipe.py module
# docstring). Each case: input lines, a shell command (None: no string-command
# front-end applies), the equivalent shipped script and its interpreter (None:
# the shipped front-end does not apply), and the expected output; None there
# means the executor's PATH.
_CONTRACT_CASES = {
    "null_row_skipped": (
        ["a", None, "b"],
        "cat",
        ("import sys\nsys.stdout.write(sys.stdin.read())\n", "python3"),
        ["a", "b"],
    ),
    "shell_command": (["a", "b", "c"], "head -1; exit 0", None, ["a"]),
    "executor_path": (
        ["a"],
        'printf "%s\\n" "$PATH"',
        ("import os\nprint(os.environ['PATH'])\n", "python3"),
        None,
    ),
    "flagged_interpreter": (
        ["a", "b"],
        None,
        ("import sys\nsys.stdout.write(sys.stdin.read().upper())\n", "python3 -u"),
        ["A", "B"],
    ),
}
_TEXT_FRONTS = ("pipe", "pipe_with_counters", "pipe_with_counter_rows", "pipe_shipped_script")


def _contract_params():
    for case, (_lines, command, shipped, _want) in _CONTRACT_CASES.items():
        for front in _TEXT_FRONTS:
            if (shipped if front == "pipe_shipped_script" else command) is not None:
                yield pytest.param(front, case, id=f"{front}-{case}")


@pytest.mark.parametrize("front,case", list(_contract_params()))
def test_text_pipe_contract(spark, tmp_path, front, case):
    """NULL rows are skipped, a command string runs under /bin/sh, the child
    inherits the executor's environment, and a shipped script's interpreter
    is shlex-split — the same on every text front-end."""
    import os

    lines, command, shipped, want = _CONTRACT_CASES[case]
    df = spark.createDataFrame([(v,) for v in lines], "v string").coalesce(1)
    if front == "pipe_shipped_script":
        source, interpreter = shipped
        # SparkFiles caches by file name: one name per script content
        script = tmp_path / f"contract_{case}.py"
        script.write_text(source)
        out = pipe_mod.pipe_shipped_script(df, str(script), interpreter=interpreter)
    else:
        out = getattr(pipe_mod, front)(df, command)
        if front != "pipe":
            out = out[0]
    if want is None:
        want = [spark.sparkContext.parallelize([0], 1).map(lambda _: os.environ["PATH"]).first()]
    try:
        assert [r.line for r in out.collect()] == want
    finally:
        spark.catalog.clearCache()


def test_reporter_drain_forwards_other_stderr(capsys):
    """The counter variants' stderr drain: protocol lines are parsed, every
    other line (a malformed counter line included) goes on to stderr, as the
    reference passes it to the task log."""
    counts, status = {}, []
    pipe_mod._drain_reporter(
        io.BytesIO(
            b"reporter:counter:io,lines,2\n"
            b"not a counter line\n"
            b"reporter:status:halfway\n"
            b"reporter:counter:io,lines,3\n"
            b"reporter:counter:io,no-amount\n"
            b"reporter:status:done\n"
        ),
        counts,
        status,
    )
    assert counts == {("io", "lines"): 5}
    assert status == ["done"]
    assert capsys.readouterr().err == "not a counter line\nreporter:counter:io,no-amount\n"
