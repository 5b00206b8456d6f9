"""StreamingQueryListener progress recorder: the reference's eos-monitor
throughput/state probes answered from in-process progress events."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from futures_eos_cdc_spark.operators.signal_pipeline import signals_from_events
from futures_eos_cdc_spark.sources.tables import load_table
from futures_eos_cdc_spark.streaming.monitor import attach_progress_recorder
from futures_eos_cdc_spark.streaming.pipeline import (
    read_signal_stream_files,
    streaming_decide,
)

SENTINEL_TS_US = 4102444800 * 1_000_000


def test_progress_recorder_captures_throughput_and_state(spark, sf_dir, tmp_path):
    sig = signals_from_events(load_table(spark, sf_dir, "events"))
    sentinel = spark.createDataFrame(
        [(999_999_999, "SENTINEL", "BUY", 0.1, 1.0, "1m", SENTINEL_TS_US)],
        "signal_id long, symbol string, side string, qty double, price double,"
        " timeframe string, ts_us long",
    )
    n_input = sig.count() + 1
    path = str(tmp_path / "mon_in")
    sig.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(path)

    rec = attach_progress_recorder(spark)
    try:
        q = (
            streaming_decide(read_signal_stream_files(spark, path))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("monitored")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # listener events are delivered asynchronously post-batch
        deadline = time.time() + 30
        while time.time() < deadline:
            if rec.totals()["total_input_rows"] >= n_input:
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)

    t = rec.totals()
    assert t["n_triggers"] >= 1
    assert t["total_input_rows"] == n_input  # every signal accounted for
    assert t["peak_state_rows"] > 0  # windowed agg holds state
    assert t["peak_rows_per_sec"] > 0

    rows = rec.report(spark).filter(F.col("name") == "monitored")
    assert rows.count() == t["n_triggers"]
    assert rows.filter(F.col("num_input_rows") > 0).count() >= 1


def test_progress_recorder_keeps_duration_breakdown(spark, sf_dir, tmp_path):
    """Each trigger's durationMs phases and state commit time are kept per
    row of report() and summed in totals()."""
    from futures_eos_cdc_spark.streaming.monitor import TIMING_COLUMNS

    sig = signals_from_events(load_table(spark, sf_dir, "events")).limit(50)
    path = str(tmp_path / "dur_in")
    sig.coalesce(1).write.mode("overwrite").parquet(path)

    rec = attach_progress_recorder(spark)
    try:
        q = (
            streaming_decide(read_signal_stream_files(spark, path))
            .writeStream.outputMode("append")
            .format("noop")
            .queryName("timed")
            .start()
        )
        try:
            q.processAllAvailable()
            last = q.lastProgress["batchId"]
        finally:
            q.stop()
        # listener events arrive asynchronously; wait for the last trigger's
        deadline = time.time() + 30
        while time.time() < deadline and not any(
            r["name"] == "timed" and r["batch_id"] == last for r in rec.progress
        ):
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(rec)

    t = rec.totals()
    rows = [r.asDict() for r in rec.report(spark).collect()]
    data = [r for r in rows if r["name"] == "timed" and r["num_input_rows"] > 0]
    assert data
    for r in data:
        assert all(r[c] is not None and r[c] >= 0 for c in TIMING_COLUMNS)
        assert r["add_batch_ms"] > 0  # the sink ran
        # the trigger's wall time covers its phases
        assert r["trigger_ms"] >= r["add_batch_ms"] + r["query_planning_ms"]
    assert set(t["total_ms"]) == set(TIMING_COLUMNS)
    for c in TIMING_COLUMNS:
        assert t["total_ms"][c] == sum(r[c] for r in rows)


def test_peek_batch_observation_counts_rows(spark, sf_dir):
    """S9 batch form: peek is a pass-through — result unchanged, observed
    row count delivered through the plan's own action (no extra job)."""
    from pyspark.sql import Observation

    from futures_eos_cdc_spark.streaming.monitor import peek

    docs = load_table(spark, sf_dir, "documents")
    obs = Observation("peek_docs")
    tapped = peek(docs, "peek_docs", observation=obs)
    n = tapped.count()
    assert n == docs.count()
    assert obs.get["peek_rows"] == n


def test_peek_streaming_metrics_per_trigger(spark, sf_dir, tmp_path):
    """S9 streaming form: the named observe metric shows up in
    StreamingQueryProgress.observedMetrics — the reference's per-record log
    tap re-expressed as per-trigger plan-side metrics."""
    import json

    from futures_eos_cdc_spark.streaming.monitor import peek

    sig = signals_from_events(load_table(spark, sf_dir, "events")).limit(50)
    n_in = sig.count()
    path = str(tmp_path / "peek_in")
    sig.coalesce(1).write.mode("overwrite").parquet(path)

    stream = read_signal_stream_files(spark, path)
    q = (
        peek(stream, "peek_signals")
        .writeStream.outputMode("append")
        .format("noop")
        .start()
    )
    try:
        q.processAllAvailable()
        seen = 0
        for p in q.recentProgress:
            prog = json.loads(p.json) if hasattr(p, "json") else p
            om = prog.get("observedMetrics", {})
            if "peek_signals" in om:
                seen += om["peek_signals"]["peek_rows"]
        assert seen == n_in
    finally:
        q.stop()


def test_console_peek_writer_runs(spark, sf_dir, tmp_path):
    """S9 dev console sink: the classic console dump starts, drains the
    source, and stops cleanly (output goes to JVM stdout — the assertion is
    that the sink is wired and runnable, matching its debug-tap role)."""
    from futures_eos_cdc_spark.streaming.monitor import console_peek_writer

    sig = signals_from_events(load_table(spark, sf_dir, "events")).limit(5)
    path = str(tmp_path / "console_in")
    sig.coalesce(1).write.mode("overwrite").parquet(path)

    q = console_peek_writer(read_signal_stream_files(spark, path), num_rows=5).start()
    try:
        q.processAllAvailable()
        assert q.lastProgress is not None
    finally:
        q.stop()
