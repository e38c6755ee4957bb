"""Structured Streaming tests: file-source stream → windowed agg /
dedup → memory sink via Trigger.AvailableNow, checked against the batch
equivalents on the same data."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.catalog import load_table
from mini_project_204721_data_engineering_spark.streaming.events import (
    read_events_stream,
    run_available_now,
    session_counts,
    stream_dedup,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark):
    """Events normalized to microsecond timestamps, landed as a parquet
    directory (the 'files arriving in object storage' shape), split into
    several files to exercise incremental triggers."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    load_table(spark, SF, "events").repartition(4).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_tumbling_matches_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir, max_files_per_trigger=2)
    got = run_available_now(tumbling_counts(stream), "t_tumble", output_mode="complete")
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    g = {(r["window_start"], r["event_type"]): r["n"] for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): r["n"] for r in batch.collect()}
    assert g == b and len(g) > 0


def test_stream_sessions_run(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = run_available_now(session_counts(stream, gap="30 minutes"), "t_sess")
    rows = got.collect()
    assert len(rows) > 0
    assert all(r["n_events"] >= 1 for r in rows)
    # session windows must not overlap per user
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append((r["session_start"], r["session_end"]))
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2


def test_stream_dedup_append(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = run_available_now(
        stream_dedup(stream, keys=["user_id", "event_type"]),
        "t_dedup",
        output_mode="append",
    )
    n_stream = got.count()
    n_batch = (
        spark.read.parquet(events_dir).dropDuplicates(["user_id", "event_type", "ts"]).count()
    )
    assert n_stream == n_batch


def test_watermark_drops_late_data_across_restarts(spark):
    """Append-mode watermark semantics, checkpoint-persisted: an event
    arriving after the watermark passed its window must NOT change the
    already-finalized window — the state-bounding contract that makes
    windowed aggs runnable forever at scale."""
    import datetime as dt

    d = tempfile.mkdtemp(prefix="late_events_")
    ckpt = tempfile.mkdtemp(prefix="late_ckpt_")
    out = tempfile.mkdtemp(prefix="late_out_")

    def mk(rows):
        return spark.createDataFrame(
            [
                (i, dt.datetime(2024, 1, 1, h, m), 1, "click", 1.0, "{}")
                for i, (h, m) in enumerate(rows)
            ],
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
        )

    def run():
        # parquet sink (memory sink can't recover from a checkpoint):
        # the file sink is also the scale-realistic target
        from mini_project_204721_data_engineering_spark.streaming.events import read_events_stream, tumbling_counts

        q = (
            tumbling_counts(read_events_stream(spark, d))
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out).collect()

    try:
        # batch 1: three rows in the 00:00 window + one at 10:30 that
        # advances the watermark (2 h) far past the 00:00 window's end
        mk([(0, 10), (0, 20), (0, 30), (10, 30)]).write.mode("append").parquet(d)
        run()
        # batch 2: a LATE row for the closed 00:00 window + fresh data
        mk([(0, 40), (20, 30)]).write.mode("append").parquet(d)
        rows = run()
        w0 = dt.datetime(2024, 1, 1, 0, 0)
        emitted = [r for r in rows if r["window_start"] == w0]
        # the 00:00 window was finalized exactly once, with the on-time
        # count only — the late row was dropped, not merged
        assert len(emitted) == 1
        assert emitted[0]["n"] == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
