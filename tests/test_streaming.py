"""Streaming integration tests: file-source streams driven to completion with
processAllAvailable() + memory sink — no Kafka needed (SURVEY.md §5).

Covers: windowed streaming decide (append mode), batch/streaming parity,
zero-grace late-row drops, duplicate-injection EOS semantics
(dropDuplicatesWithinWatermark), and the idempotent foreachBatch sink.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from futures_eos_cdc_spark.operators.signal_pipeline import (
    decide,
    signals_from_events,
)
from futures_eos_cdc_spark.sources.tables import load_table
from futures_eos_cdc_spark.streaming.outbox import (
    content_duplicate_report,
    parquet_orders_outbox_writer,
)
from futures_eos_cdc_spark.streaming.pipeline import (
    read_signal_stream_files,
    streaming_decide,
)

SENTINEL_TS_US = 4102444800 * 1_000_000  # year 2100 — pushes the watermark


def _signals(spark, sf_dir):
    return signals_from_events(load_table(spark, sf_dir, "events"))


def _write_stream_input(spark, sf_dir, tmp_path, extra_df=None):
    """Signals + a far-future sentinel row (append mode only emits a window
    once the watermark passes its end; the sentinel closes all real windows).
    """
    sig = _signals(spark, sf_dir)
    sentinel = spark.createDataFrame(
        [(999_999_999, "SENTINEL", "BUY", 0.1, 1.0, "1m", SENTINEL_TS_US)],
        "signal_id long, symbol string, side string, qty double, price double,"
        " timeframe string, ts_us long",
    )
    full = sig.unionByName(sentinel)
    if extra_df is not None:
        full = full.unionByName(extra_df)
    path = str(tmp_path / "stream_in")
    full.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def _run_stream(spark, path, name, dedup=False, decide_fn=streaming_decide):
    stream = read_signal_stream_files(spark, path)
    q = (
        (decide_fn(stream, dedup=True) if dedup else decide_fn(stream))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}").filter(F.col("symbol") != "SENTINEL")


def test_streaming_matches_batch(spark, sf_dir, tmp_path):
    path = _write_stream_input(spark, sf_dir, tmp_path)
    stream_rows = {
        (r.symbol, r.window_start_s): r for r in _run_stream(spark, path, "sd1").collect()
    }
    batch_rows = {
        (r.symbol, r.window_start_s): r for r in decide(_signals(spark, sf_dir)).collect()
    }
    assert set(stream_rows) == set(batch_rows)
    # every column equal: the streaming array folds are decimal-exact, like
    # batch decide's sums, and both end in the same decision tail
    for key, b in batch_rows.items():
        assert stream_rows[key] == b, (key, stream_rows[key], b)


# (balance, aligned) → per-timeframe (buys, sells) of a two-timeframe window:
# both majorities agree (alignment 1.0) or not (0.5), the balances summing to
# ``balance``; every timeframe holds at most 10 signals, so all are buffered
def _boundary_counts(balance, aligned):
    buy = balance > 0
    if aligned:
        halves = ((abs(balance) + 1) // 2, abs(balance) // 2)
        return [(h, 0) if buy else (0, h) for h in halves]
    return [(abs(balance) + 1, 0), (0, 1)] if buy else [(0, abs(balance) + 1), (1, 0)]


def _expected_decision(balance, alignment):
    from futures_eos_cdc_spark.operators.signal_pipeline import (
        BUY_MIN,
        SELL_MAX,
        STRONG_BUY_MIN,
        STRONG_SELL_MAX,
    )

    if balance > STRONG_BUY_MIN:
        action = "STRONG_BUY"
    elif balance > BUY_MIN:
        action = "BUY"
    elif balance < STRONG_SELL_MAX:
        action = "STRONG_SELL"
    elif balance < SELL_MAX:
        action = "SELL"
    else:
        action = "HOLD"
    if action.startswith("STRONG"):
        reason = "ALIGNED_SIGNALS" if alignment > 0.8 else "MOMENTUM_SHIFT"
    elif action in ("BUY", "SELL"):
        reason = "ALIGNED_SIGNALS"
    else:
        reason = "DIVERGENT_SIGNALS" if alignment < 0.6 else "INSUFFICIENT_DATA"
    return action, reason


def test_decision_thresholds_at_the_boundaries(spark, tmp_path):
    """Hand-built windows on each side of every action threshold (balances
    ±2, ±3, ±5, ±6), each with aligned and divergent timeframes, plus a
    window with one timeframe only (dropped by P5): batch decide and both
    streaming decides emit the action and reason the D1/D4 constants give."""
    from futures_eos_cdc_spark.streaming.pipeline import streaming_decide_bounded

    window_start_us = 1_699_999_800 * 1_000_000  # a 5-minute boundary
    rows, want = [], {}

    def add(symbol, counts):
        for tf, (buys, sells) in zip(("1m", "5m"), counts):
            for side in ["BUY"] * buys + ["SELL"] * sells:
                i = len(rows)
                rows.append((i, symbol, side, 0.1 + i / 100, 100.0 + i, tf,
                             window_start_us + i * 1_000_000))

    for balance in (-6, -5, -3, -2, 2, 3, 5, 6):
        for aligned in (True, False):
            symbol = f"B{balance}_{'A' if aligned else 'D'}"
            add(symbol, _boundary_counts(balance, aligned))
            want[symbol] = (balance, 1.0 if aligned else 0.5,
                            *_expected_decision(balance, 1.0 if aligned else 0.5))
    add("ONE_TF", [(6, 0)])
    schema = (
        "signal_id long, symbol string, side string, qty double, price double,"
        " timeframe string, ts_us long"
    )
    sig = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "boundary_in")
    sig.unionByName(spark.createDataFrame(
        [(999_999_999, "SENTINEL", "BUY", 0.1, 1.0, "1m", SENTINEL_TS_US)], schema
    )).coalesce(1).write.parquet(path)

    outputs = {
        "batch": decide(sig),
        "streaming": _run_stream(spark, path, "boundary_sd"),
        "bounded": _run_stream(spark, path, "boundary_bd",
                               decide_fn=streaming_decide_bounded),
    }
    for name, out in outputs.items():
        got = {
            r.symbol: (r.balance, r.alignment, r.action, r.reason)
            for r in out.collect()
        }
        assert got == want, name


def test_streaming_append_emits_one_decision_per_window(spark, sf_dir, tmp_path):
    path = _write_stream_input(spark, sf_dir, tmp_path)
    out = _run_stream(spark, path, "sd2")
    dups = content_duplicate_report(out, ["symbol", "window_start_s"])
    assert dups.count() == 0


def test_duplicate_injection_eos(spark, sf_dir, tmp_path):
    """The reference's EOS demo (scripts/eos-demo.sh): every signal injected
    5x byte-identically → with content dedup, decisions are identical to the
    single-copy run, and exactly one decision per (symbol, window)."""
    sig = _signals(spark, sf_dir)
    dup5 = sig.withColumn("dup", F.explode(F.array(*[F.lit(i) for i in range(5)]))).drop(
        "dup"
    )
    path = _write_stream_input(spark, sf_dir, tmp_path, extra_df=dup5.limit(0))
    # build the 5x-duplicated input (plus sentinel) in its own dir
    sentinel = spark.createDataFrame(
        [(999_999_999, "SENTINEL", "BUY", 0.1, 1.0, "1m", SENTINEL_TS_US)],
        "signal_id long, symbol string, side string, qty double, price double,"
        " timeframe string, ts_us long",
    )
    dup_path = str(tmp_path / "dup_in")
    dup5.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(dup_path)

    clean = {
        (r.symbol, r.window_start_s): r for r in _run_stream(spark, path, "sd3").collect()
    }
    deduped = {
        (r.symbol, r.window_start_s): r
        for r in _run_stream(spark, dup_path, "sd4", dedup=True).collect()
    }
    assert set(clean) == set(deduped)
    for key, c in clean.items():
        d = deduped[key]
        assert (c.action, c.confidence, c.balance, c.n_signals) == (
            d.action,
            d.confidence,
            d.balance,
            d.n_signals,
        ), key


def test_late_rows_dropped_with_zero_grace(spark, sf_dir, tmp_path):
    """Zero-grace watermark: rows older than the watermark never create or
    update windows (T1/T3)."""
    sig = _signals(spark, sf_dir)
    # one fresh row advances the watermark to 2100; then replay real signals
    sentinel_first = spark.createDataFrame(
        [(999_999_999, "SENTINEL", "BUY", 0.1, 1.0, "1m", SENTINEL_TS_US)],
        "signal_id long, symbol string, side string, qty double, price double,"
        " timeframe string, ts_us long",
    )
    path = str(tmp_path / "late_in")
    os.makedirs(path, exist_ok=True)
    sentinel_first.coalesce(1).write.mode("overwrite").parquet(path + "/batch0")

    q = (
        streaming_decide(
            read_signal_stream_files(spark, path + "/batch*"),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late1")
        .start()
    )
    try:
        q.processAllAvailable()  # watermark advances past 2100-window start
        sig.coalesce(1).write.mode("overwrite").parquet(path + "/batch1")
        q.processAllAvailable()  # all real (2024) rows are now late → dropped
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM late1").filter(F.col("symbol") != "SENTINEL")
    assert out.count() == 0


def test_foreach_batch_sink_idempotent(spark, sf_dir, tmp_path):
    """Replaying the same micro-batch must not duplicate rows (T8: the
    at-least-once + unique-key contract)."""
    from futures_eos_cdc_spark.operators.order_pipeline import (
        decisions_to_orders,
        market_prices_df,
    )

    decisions = decide(_signals(spark, "/root/testdata/sf0.01"))
    orders = decisions_to_orders(decisions, market_prices_df(spark))
    base = str(tmp_path / "sink")
    writer = parquet_orders_outbox_writer(base)
    writer(orders, epoch_id=0)
    n1 = spark.read.parquet(base + "/orders").count()
    assert n1 > 0
    writer(orders, epoch_id=0)  # replayed epoch
    writer(orders, epoch_id=1)  # same data, new epoch
    n2 = spark.read.parquet(base + "/orders").count()
    assert n2 == n1


def _keyed(spark, rows):
    """(k, v) rows as a local relation (plans as LocalTableScan)."""
    vals = ", ".join(f"({'NULL' if k is None else repr(k)}, {v})" for k, v in rows)
    return spark.sql(
        f"SELECT CAST(k AS STRING) AS k, CAST(v AS BIGINT) AS v FROM VALUES {vals} AS t(k, v)"
    )


def _table_rows(spark, base):
    return sorted(map(tuple, spark.read.parquet(base + "/orders").collect()), key=repr)


def test_outbox_writer_dedups_keys_within_batch(spark, tmp_path):
    """Duplicate keys inside one batch publish one row per key, even when
    the duplicates sit in different partitions of the batch."""
    base = str(tmp_path / "sink")
    writer = parquet_orders_outbox_writer(base, key_col="k")
    rows = [("a", 1), ("b", 2), ("a", 3), ("c", 4), ("b", 5), ("a", 6)]
    writer(_keyed(spark, rows).repartition(3), epoch_id=0)
    got = _table_rows(spark, base)
    assert sorted(k for k, _ in got) == ["a", "b", "c"]
    assert set(got) <= set(rows)


def test_outbox_writer_replay_and_overlap(spark, tmp_path):
    """A replayed epoch adds no rows; a new epoch whose keys overlap the
    table's adds only its new keys, and its files keep the
    epoch<N>_<i>_<part>.parquet names."""
    base = str(tmp_path / "sink")
    writer = parquet_orders_outbox_writer(base, key_col="k")
    first = _keyed(spark, [("a", 1), ("b", 2)])
    writer(first, epoch_id=0)
    writer(first, epoch_id=0)
    assert _table_rows(spark, base) == [("a", 1), ("b", 2)]
    writer(_keyed(spark, [("b", 20), ("c", 30), ("a", 10)]), epoch_id=1)
    assert _table_rows(spark, base) == [("a", 1), ("b", 2), ("c", 30)]
    names = os.listdir(base + "/orders")
    assert {n.split("_", 1)[0] for n in names} == {"epoch0", "epoch1"}
    assert all(re.fullmatch(r"epoch\d+_\d+_part-.*\.parquet", n) for n in names)
    assert not [n for n in os.listdir(base) if n.startswith("_stage_")]


def test_outbox_writer_honours_foreign_files(spark, tmp_path):
    """Keys in a file another writer dropped into orders/ are conflicts too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = str(tmp_path / "sink")
    writer = parquet_orders_outbox_writer(base, key_col="k")
    writer(_keyed(spark, [("a", 1)]), epoch_id=0)
    pq.write_table(
        pa.table({"k": ["x", "y"], "v": pa.array([7, 8], pa.int64())}),
        base + "/orders/part-foreign.parquet",
    )
    writer(_keyed(spark, [("x", 70), ("z", 90), ("a", 10)]), epoch_id=1)
    assert _table_rows(spark, base) == [("a", 1), ("x", 7), ("y", 8), ("z", 90)]


def test_outbox_writer_rewrite_keeps_column_types(spark, tmp_path):
    """An epoch whose conflicting rows were dropped reads back with the
    batch's types and values (timestamps included)."""
    base = str(tmp_path / "sink")
    writer = parquet_orders_outbox_writer(base, key_col="k")
    batch = spark.sql(
        "SELECT * FROM VALUES ('a', TIMESTAMP '2024-01-02 03:04:05.123456', 1.5D),"
        " ('b', TIMESTAMP '2024-06-07 08:09:10', 2.5D) AS t(k, ts, x)"
    ).coalesce(1)
    writer(batch.filter(F.col("k") == "a"), epoch_id=0)
    writer(batch, epoch_id=1)  # 'a' conflicts: only 'b' is published
    got = spark.read.parquet(base + "/orders")
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in batch.schema
    ]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_outbox_writer_empty_first_epoch_is_readable(spark, tmp_path):
    """An all-empty first epoch still leaves a table Spark can read, with
    the batch's schema; later epochs append to it."""
    base = str(tmp_path / "sink")
    writer = parquet_orders_outbox_writer(base, key_col="k")
    empty = _keyed(spark, [("a", 1)]).filter(F.lit(False))
    writer(empty, epoch_id=0)
    table = spark.read.parquet(base + "/orders")
    assert table.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in table.schema] == [
        ("k", "string"),
        ("v", "bigint"),
    ]
    writer(empty, epoch_id=1)  # nothing new: no file published
    assert len(os.listdir(base + "/orders")) == 1
    writer(_keyed(spark, [("a", 1)]), epoch_id=2)
    assert _table_rows(spark, base) == [("a", 1)]


def test_outbox_writer_null_keys(spark, tmp_path):
    """Null keys keep dropDuplicates + left-anti semantics: one null-key row
    per batch, never matched against the table (a replay adds another)."""
    base = str(tmp_path / "sink")
    writer = parquet_orders_outbox_writer(base, key_col="k")
    batch = _keyed(spark, [(None, 1), ("a", 2), (None, 3)])
    writer(batch, epoch_id=0)
    got = _table_rows(spark, base)
    assert [k for k, _ in got].count(None) == 1
    assert ("a", 2) in got
    writer(batch, epoch_id=0)
    got = _table_rows(spark, base)
    assert [k for k, _ in got].count(None) == 2
    assert [k for k, _ in got].count("a") == 1


def test_outbox_writer_publishes_one_file_per_epoch(spark, tmp_path):
    """A non-empty epoch publishes exactly one file, however the batch is
    partitioned, and leaves no staging dir or hidden temp file behind."""
    base = str(tmp_path / "sink")
    writer = parquet_orders_outbox_writer(base, key_col="k")
    rows = [(f"k{i}", i) for i in range(20)]
    writer(_keyed(spark, rows).repartition(4), epoch_id=0)
    writer(_keyed(spark, rows + [("new", 99)]).repartition(4), epoch_id=1)
    names = sorted(os.listdir(base + "/orders"))
    assert [n.split("_", 1)[0] for n in names] == ["epoch0", "epoch1"]
    assert all(re.fullmatch(r"epoch\d+_\d+_part-.*\.parquet", n) for n in names)
    assert os.listdir(base) == ["orders"]
    assert len(_table_rows(spark, base)) == 21


def test_outbox_writer_null_key_replay_gets_a_new_file(spark, tmp_path):
    """A replayed epoch that publishes again (its null key never matches)
    lands in a second, distinctly named file: it never replaces the
    first one."""
    base = str(tmp_path / "sink")
    writer = parquet_orders_outbox_writer(base, key_col="k")
    batch = _keyed(spark, [(None, 1), ("a", 2)])
    writer(batch, epoch_id=0)
    first = set(os.listdir(base + "/orders"))
    writer(batch, epoch_id=0)
    names = set(os.listdir(base + "/orders"))
    assert len(first) == 1 and first < names and len(names) == 2
    assert all(re.fullmatch(r"epoch0_0_part-.*\.parquet", n) for n in names)
    assert sorted(_table_rows(spark, base), key=repr) == sorted(
        [(None, 1), (None, 1), ("a", 2)], key=repr
    )


def test_outbox_writer_round_trips_column_types_in_any_session_zone(spark, tmp_path):
    """date, decimal(38,10), timestamp and array<string> columns read back
    through Spark with the batch's types and values, also when the session
    time zone is not UTC."""
    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        base = str(tmp_path / "sink")
        writer = parquet_orders_outbox_writer(base, key_col="k")
        batch = spark.sql(
            "SELECT * FROM VALUES"
            " ('a', DATE '2024-03-10', CAST('12345678.0123456789' AS DECIMAL(38,10)),"
            "  TIMESTAMP '2024-03-10 02:30:00.123456', array('x', NULL)),"
            " ('b', DATE '1969-12-31', CAST('-0.0000000001' AS DECIMAL(38,10)),"
            "  TIMESTAMP '2024-11-03 01:30:00', array())"
            " AS t(k, d, amount, ts, tags)"
        )
        writer(batch.filter(F.col("k") == "a"), epoch_id=0)
        writer(batch, epoch_id=1)
        got = spark.read.parquet(base + "/orders")
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in batch.schema
        ]
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))
    finally:
        spark.conf.set(key, saved)


_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _checkpoint_manager(spark, path: str):
    """The manager Spark builds for ``path`` from the session's conf."""
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return checkpointing.CheckpointFileManager.create(jvm.org.apache.hadoop.fs.Path(path), conf)


def test_session_uses_filesystem_checkpoint_manager(spark, tmp_path):
    """get_spark's checkpoint files go through FileSystem.rename, which forks
    no readlink per file on a local disk without libhadoop."""
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == _FS_MANAGER
    assert _checkpoint_manager(spark, str(tmp_path)).getClass().getName() == _FS_MANAGER


def test_session_turns_dataframe_debugging_off_and_errors_stay_readable(spark, sf_dir):
    """get_spark turns PySpark's DataFrame debugging off (each Column call
    would otherwise record its call site through extra py4j round trips).
    An analysis error still names its error class and the column."""
    from pyspark.errors import AnalysisException

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(AnalysisException) as err:
        docs.select(F.col("doc_idd"))
    assert "UNRESOLVED_COLUMN" in str(err.value)
    assert "doc_idd" in str(err.value)


def test_checkpoint_create_atomic_never_overwrites(spark, tmp_path):
    """The no-overwrite guarantee the offset and commit logs rely on: a
    second createAtomic(path, overwriteIfPossible=false) fails on close."""
    from py4j.protocol import Py4JJavaError

    mgr = _checkpoint_manager(spark, str(tmp_path))
    path = spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    first = mgr.createAtomic(path, False)
    first.write(1)
    first.close()
    second = mgr.createAtomic(path, False)
    second.write(2)
    with pytest.raises(Py4JJavaError, match="already exists"):
        second.close()
    with open(tmp_path / "0", "rb") as fh:
        assert fh.read() == bytes([1])


def test_state_store_keeps_checksum_files(spark, sf_dir, tmp_path):
    """After a two-batch streaming_decide run, every state version's .delta
    file sits next to Spark's checksum file for it."""
    path = str(tmp_path / "in")
    _signals(spark, sf_dir).coalesce(1).write.parquet(path + "/batch0")
    checkpoint = str(tmp_path / "checkpoint")
    q = (
        streaming_decide(read_signal_stream_files(spark, path + "/batch*"))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ckpt_checksums")
        .option("checkpointLocation", checkpoint)
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [(999_999_999, "SENTINEL", "BUY", 0.1, 1.0, "1m", SENTINEL_TS_US)],
            "signal_id long, symbol string, side string, qty double, price double,"
            " timeframe string, ts_us long",
        ).write.parquet(path + "/batch1")
        q.processAllAvailable()
    finally:
        q.stop()
    checkpointing = spark._jvm.org.apache.spark.sql.execution.streaming.checkpointing
    suffix = checkpointing.ChecksumCheckpointFileManager.CHECKSUM_FILE_SUFFIX()
    partitions = [
        (root, sorted(f for f in files if f.endswith(".delta")))
        for root, _, files in os.walk(checkpoint + "/state")
    ]
    partitions = [(root, deltas) for root, deltas in partitions if deltas]
    assert partitions
    for root, deltas in partitions:
        assert len(deltas) >= 2, (root, deltas)
        for d in deltas:
            assert os.path.exists(os.path.join(root, d + suffix)), (root, d)


def _job_ids(spark, fn) -> list[int]:
    """Spark job ids ``fn`` runs, read from its status-tracker job group."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_outbox_writer_runs_one_job_per_epoch(spark, tmp_path):
    """The sink epoch's only Spark job is the batch's own write: no in-batch
    dedup exchange and no broadcast of the table's keys, however many
    epochs the table holds."""
    base = str(tmp_path / "sink")
    writer = parquet_orders_outbox_writer(base, key_col="k")
    for epoch in range(3):
        batch = _keyed(spark, [(f"k{epoch}", epoch), ("k0", 9), (f"k{epoch}", 8)])
        assert len(_job_ids(spark, lambda: writer(batch, epoch))) == 1
    assert len(_table_rows(spark, base)) == 3


def test_price_dim_is_a_local_relation(spark, sf_dir):
    """The order pipeline's price dim plans as LocalTableScan, so its
    broadcast never scans an RDD (a Python-list createDataFrame plans as
    Scan ExistingRDD and adds a parallelize job per use)."""
    from futures_eos_cdc_spark.operators.order_pipeline import (
        decisions_to_orders,
        market_prices_df,
    )

    orders = decisions_to_orders(decide(_signals(spark, sf_dir)), market_prices_df(spark))
    plan = orders._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "Scan ExistingRDD" not in plan


@pytest.mark.parametrize("key_cols", [["symbol", "side", "price", "qty", "timeframe", "ts_us"]])
def test_content_duplicate_report(spark, sf_dir, key_cols):
    sig = _signals(spark, sf_dir)
    dup = sig.unionByName(sig.limit(3))
    rep = content_duplicate_report(dup, key_cols)
    assert rep.count() == 3
    assert rep.agg(F.max("n")).collect()[0][0] == 2


def test_streaming_sessionize(spark, sf_dir, tmp_path):
    """T4 session windows: rows within `gap` merge into one session; a quiet
    period splits sessions."""
    from futures_eos_cdc_spark.streaming.pipeline import streaming_sessionize

    base = 1_700_000_000 * 1_000_000  # epoch micros
    rows = [
        # session 1: 3 rows, 10s apart
        (1, "BTCUSDT", "BUY", 0.1, 100.0, "1m", base),
        (2, "BTCUSDT", "SELL", 0.1, 101.0, "1m", base + 10_000_000),
        (3, "BTCUSDT", "BUY", 0.1, 102.0, "1m", base + 20_000_000),
        # >30s silence → session 2: 1 row
        (4, "BTCUSDT", "BUY", 0.1, 103.0, "1m", base + 120_000_000),
        # another symbol, own session
        (5, "ETHUSDT", "BUY", 0.1, 50.0, "1m", base + 5_000_000),
        # watermark-advancing sentinel
        (9, "SENTINEL", "BUY", 0.1, 1.0, "1m", SENTINEL_TS_US),
    ]
    schema = (
        "signal_id long, symbol string, side string, qty double, price double,"
        " timeframe string, ts_us long"
    )
    path = str(tmp_path / "sess_in")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(path)
    q = (
        streaming_sessionize(read_signal_stream_files(spark, path), gap="30 seconds")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess1")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = {
        (r.symbol, r.session_start_s): r
        for r in spark.sql("SELECT * FROM sess1")
        .filter(F.col("symbol") != "SENTINEL")
        .collect()
    }
    assert len(out) == 3
    s1 = out[("BTCUSDT", 1_700_000_000)]
    assert s1.n_signals == 3
    assert s1.session_end_s == 1_700_000_000 + 20 + 30  # last event + gap
    s2 = out[("BTCUSDT", 1_700_000_120)]
    assert s2.n_signals == 1
    assert out[("ETHUSDT", 1_700_000_005)].n_signals == 1


def test_arrival_order_last10_stateful(spark, tmp_path):
    """The bit-exact arrival-order buffer (applyInPandasWithState): keeps the
    last 10 rows in ARRIVAL order — even when event time runs backwards —
    and evicts FIFO across micro-batches."""
    from futures_eos_cdc_spark.streaming.pipeline import arrival_order_last10

    schema = (
        "signal_id long, symbol string, side string, qty double, price double,"
        " timeframe string, ts_us long"
    )
    base = 1_700_000_000 * 1_000_000
    # 12 rows, single group, event time DESCENDING (arrival != ts order):
    # prices 1..12, ts decreasing. Arrival last-10 = prices 3..12;
    # ts-order last-10 would be prices 1..10 — the test distinguishes them.
    batch1 = [
        (i, "BTCUSDT", "BUY", 0.1, float(i), "1m", base + (100 - i) * 1_000)
        for i in range(1, 13)
    ]
    path = str(tmp_path / "arr_in")
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(path + "/b0")

    q = (
        arrival_order_last10(read_signal_stream_files(spark, path + "/b*"))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("arr1")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM arr1").collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.n_buffered == 10
        assert r.avg_price == sum(range(3, 13)) / 10.0  # arrival-order survivors
        assert r.newest_ts_us == base + (100 - 12) * 1_000  # last ARRIVED, oldest ts
        # second micro-batch: 3 more rows evict 3 more heads → prices 6..15
        batch2 = [
            (i, "BTCUSDT", "BUY", 0.1, float(i), "1m", base + (100 - i) * 1_000)
            for i in range(13, 16)
        ]
        spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(path + "/b1")
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM arr1").collect()
        latest = max(rows, key=lambda r: r.avg_price)
        assert latest.n_buffered == 10
        assert latest.avg_price == sum(range(6, 16)) / 10.0
    finally:
        q.stop()


_SOAK_SCRIPT = r"""
import json, sys, time

from futures_eos_cdc_spark.session import get_spark
from futures_eos_cdc_spark.streaming.pipeline import (
    read_signal_stream_rate,
    streaming_decide,
)

spark = get_spark(
    "rps-soak", cpus=8, shuffle_partitions=8,
    extra_conf={"spark.ui.showConsoleProgress": "false"},
)
q = (
    streaming_decide(read_signal_stream_rate(spark, rows_per_second=1000))
    .writeStream.outputMode("append")
    .format("memory")
    .queryName("soak")
    .trigger(processingTime="1 second")
    .start()
)
try:
    # Poll until enough STEADY batches exist rather than sleeping a fixed
    # window: on a post-full-suite box, session + first-trigger startup
    # can eat 10+ s, leaving a fixed window with only JIT-slope batches —
    # the observed in-suite failure mode (standalone runs pass at ~1500
    # rps). 10 non-empty batches ≈ 9 steady samples; 90 s hard cap.
    deadline = time.time() + 90
    progress = []
    while time.time() < deadline:
        time.sleep(2)
        progress = q.recentProgress
        if sum(1 for p in progress if p["numInputRows"] > 0) >= 10:
            break
finally:
    q.stop()
# SUSTAINED throughput: total rows / total trigger-execution time over the
# steady-state window (the first non-empty batch is whole-stage-codegen +
# JIT compile — the same warm-up bench.py documents — and single-batch
# jitter at the 1-second trigger makes a per-batch median cry wolf at ~3%
# noise). "Not falling behind" is the median trigger duration vs the
# 1-second trigger, reported alongside.
ne = [p for p in progress if p["numInputRows"] > 0]
steady = ne[1:] if len(ne) > 1 else ne
tot_rows = sum(p["numInputRows"] for p in steady)
tot_secs = sum(p["durationMs"]["triggerExecution"] for p in steady) / 1000.0
durs = sorted(p["durationMs"]["triggerExecution"] for p in steady)
out = {
    "rate": round(tot_rows / tot_secs, 1) if tot_secs else 0.0,
    "dur": durs[len(durs) // 2] if durs else 1 << 30,
    "batches": len(steady),
}
print("SOAK_RESULT " + json.dumps(out))
"""


@pytest.mark.slow
def test_rate_source_sustains_1000_rps():
    """BASELINE.md streaming bar: ≥1,000 signals/s with the 5-min windowed
    aggregation without falling behind (batch duration < trigger interval).

    Runs in a FRESH subprocess JVM: the soak measures real wall-clock
    throughput, and in-process it failed under full-suite load (heap/GC
    state accumulated by ~200 prior tests on the shared session) while
    passing in isolation — a perf bar that cries wolf erodes the signal.
    The subprocess reproduces the in-isolation condition deterministically;
    one respawn retry guards against one-off machine hiccups.
    """
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def soak() -> tuple[float, float]:
        env = dict(os.environ)
        env["PYTHONPATH"] = repo + os.pathsep + env.get("PYTHONPATH", "")
        proc = subprocess.run(
            [sys.executable, "-c", _SOAK_SCRIPT],
            capture_output=True,
            text=True,
            timeout=300,
            env=env,
            cwd=repo,
        )
        for line in proc.stdout.splitlines():
            if line.startswith("SOAK_RESULT "):
                out = json.loads(line[len("SOAK_RESULT "):])
                assert out["batches"] > 0, "no non-empty batches"
                return out["rate"], out["dur"]
        raise AssertionError(
            f"soak subprocess produced no result (rc={proc.returncode}):\n"
            f"{proc.stdout[-1000:]}\n{proc.stderr[-1000:]}"
        )

    # Direct measurements on this box run ~1.5x the bar (sustained
    # 1500-1570 rps, median trigger ~650 ms). One failing sample is a
    # transient machine hiccup, but "any 1 of 3 passes" would let a
    # ~33%-flaky regression slip through almost every run (ADVICE r11) —
    # so once the first sample misses, demand a MAJORITY: stop at two
    # passes or two failures (max 3 cold JVMs), and report every sample
    # so a regression trend stays visible in the failure message.
    def ok(sample: tuple[float, float]) -> bool:
        r, d = sample
        return r >= 1000 and d <= 1000

    samples = [soak()]
    while not (
        sum(ok(s) for s in samples) >= (1 if len(samples) == 1 else 2)
        or sum(not ok(s) for s in samples) >= 2
    ):
        samples.append(soak())
    passes = sum(ok(s) for s in samples)
    assert passes >= (1 if len(samples) == 1 else 2), (
        f"soak under the bar in {len(samples) - passes}/{len(samples)} "
        f"cold JVMs (need rate>=1000 rps, dur<=1000 ms): "
        + ", ".join(f"(rate={r:.0f}, dur={d:.0f})" for r, d in samples)
    )


def test_update_mode_reemits_per_trigger(spark, tmp_path):
    """T2 reference-like cadence: update mode re-emits the (symbol, window)
    aggregate on every micro-batch that changes it (Kafka Streams emits per
    commit/cache-flush); append mode emits exactly once. SURVEY.md §7.4.4."""
    schema = (
        "signal_id long, symbol string, side string, qty double, price double,"
        " timeframe string, ts_us long"
    )
    base = 1_700_000_100 * 1_000_000  # inside the 1_700_000_100-window? no:
    # window = (ts div 300e6)*300 → 1_700_000_100 div 300 = window 1699999800
    b0 = [
        (1, "BTCUSDT", "BUY", 0.1, 100.0, "1m", base),
        (2, "BTCUSDT", "BUY", 0.1, 101.0, "5m", base + 1_000_000),
        (3, "BTCUSDT", "BUY", 0.1, 102.0, "1m", base + 2_000_000),
        (4, "BTCUSDT", "BUY", 0.1, 103.0, "5m", base + 3_000_000),
    ]
    b1 = [
        (5, "BTCUSDT", "BUY", 0.1, 104.0, "1m", base + 4_000_000),
        (6, "BTCUSDT", "BUY", 0.1, 105.0, "5m", base + 5_000_000),
        (7, "BTCUSDT", "BUY", 0.1, 106.0, "1m", base + 6_000_000),
    ]
    path = str(tmp_path / "upd_in")
    os.makedirs(path, exist_ok=True)
    spark.createDataFrame(b0, schema).coalesce(1).write.parquet(path + "/b0")
    q = (
        streaming_decide(read_signal_stream_files(spark, path + "/b*"))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("upd1")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(b1, schema).coalesce(1).write.parquet(path + "/b1")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM upd1").collect()
    counts = sorted(r.n_signals for r in rows)
    assert counts == [4, 7], counts  # one emission per trigger, cumulative
    final = next(r for r in rows if r.n_signals == 7)
    # the final update equals the batch answer over the full input
    batch = decide(
        spark.createDataFrame(b0 + b1, schema)
    ).collect()
    assert len(batch) == 1
    b = batch[0]
    assert (final.balance, final.action, final.confidence) == (
        b.balance,
        b.action,
        b.confidence,
    )


def test_streaming_outbox_relay_end_to_end(spark, tmp_path):
    """S7b: the self-contained CDC leg — stream decisions, persist orders via
    the idempotent sink, relay them as outbox events through the
    EventRouter projection (key=aggregate_id, topic, headers)."""
    from futures_eos_cdc_spark.operators.order_pipeline import (
        decisions_to_orders,
        market_prices_df,
        orders_to_outbox,
        outbox_event_router,
    )

    # denser SF so actionable (confidence-gated) orders exist
    path = _write_stream_input(spark, "/root/testdata/sf0.01", tmp_path)
    base = str(tmp_path / "relay")
    writer = parquet_orders_outbox_writer(base)

    def sink(batch_df, epoch_id):
        batch_df = batch_df.filter(F.col("symbol") != "SENTINEL")
        writer(decisions_to_orders(batch_df, market_prices_df(spark)), epoch_id)

    q = (
        streaming_decide(read_signal_stream_files(spark, path))
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    orders = spark.read.parquet(base + "/orders")
    n_orders = orders.count()
    assert n_orders > 0
    routed = outbox_event_router(orders_to_outbox(orders)).collect()
    assert len(routed) == n_orders
    order_ids = {r.id for r in orders.select("id").collect()}
    for r in routed:
        assert r.topic == "trading.orders"
        assert r.key in order_ids  # key = aggregate_id = order id
        assert r.header_event_type == "ORDER_CREATED"
        assert r.value  # JSON payload travels as the record value


def test_rocksdb_state_store_matches_default(spark, sf_dir, tmp_path):
    """T5: the windowed aggregation runs on the RocksDB state store provider
    (the reference's store) and produces the same decisions."""
    from futures_eos_cdc_spark.streaming.pipeline import (
        ROCKSDB_STATE_STORE_PROVIDER,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(key, ROCKSDB_STATE_STORE_PROVIDER)
    try:
        path = _write_stream_input(spark, sf_dir, tmp_path)
        out = {
            (r.symbol, r.window_start_s): (r.balance, r.action)
            for r in _run_stream(spark, path, "rocks1").collect()
        }
    finally:
        spark.conf.set(key, old)
    batch = {
        (r.symbol, r.window_start_s): (r.balance, r.action)
        for r in decide(_signals(spark, sf_dir)).collect()
    }
    assert out == batch


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    # Watermarked stream-stream range join == the same join run in batch.
    from futures_eos_cdc_spark.streaming.pipeline import (
        stream_stream_click_attribution,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.timestamp_micros(F.expr("ts div 1000")).alias("event_time"),
    )
    p_dir, c_dir = str(tmp_path / "purchases"), str(tmp_path / "clicks")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases.write.mode("overwrite").parquet(p_dir)
    clicks.write.mode("overwrite").parquet(c_dir)

    p_stream = spark.readStream.schema(purchases.schema).parquet(p_dir)
    c_stream = spark.readStream.schema(clicks.schema).parquet(c_dir)
    q = (
        stream_stream_click_attribution(p_stream, c_stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.purchase_id, r.c_time) for r in spark.sql("SELECT * FROM ss_join").collect()
    }
    batch = {
        (r.purchase_id, r.c_time)
        for r in stream_stream_click_attribution(purchases, clicks).collect()
    }
    assert got == batch and len(got) > 0


def test_checkpoint_restart_recovers_exactly_once(spark, sf_dir, tmp_path):
    # T5/T6: kill the query, add data, restart from the SAME checkpoint —
    # the offset log + state store must resume without re-emitting phase-1
    # windows (exactly-once to the file sink) and the union must equal the
    # single-run batch result.
    from futures_eos_cdc_spark.operators.signal_pipeline import decide

    sig = _signals(spark, sf_dir)
    median_us = sig.approxQuantile("ts_us", [0.5], 0.0)[0]
    early = sig.filter(F.col("ts_us") <= median_us)
    late = sig.filter(F.col("ts_us") > median_us)
    sentinel = spark.createDataFrame(
        [(999_999_999, "SENTINEL", "BUY", 0.1, 1.0, "1m", SENTINEL_TS_US)],
        early.schema,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    early.coalesce(1).write.mode("overwrite").parquet(in_dir)

    def run_once():
        q = (
            streaming_decide(read_signal_stream_files(spark, in_dir))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()  # phase 1
    n_phase1 = spark.read.parquet(out_dir).count()
    # phase 2: new files arrive while the query is DOWN; restart resumes
    late.unionByName(sentinel).coalesce(1).write.mode("append").parquet(in_dir)
    run_once()

    out = spark.read.parquet(out_dir).filter(F.col("symbol") != "SENTINEL")
    # exactly-once: one row per (symbol, window) — a replayed phase 1 would
    # duplicate its windows
    assert (
        out.groupBy("symbol", "window_start_s").count().filter("count > 1").count()
        == 0
    )
    batch = decide(early.unionByName(late)).filter(F.col("symbol") != "SENTINEL")
    got = {(r.symbol, r.window_start_s, r.action) for r in out.collect()}
    want = {(r.symbol, r.window_start_s, r.action) for r in batch.collect()}
    assert got == want and len(got) > 0
    assert out.count() > n_phase1  # phase 2 actually appended


def test_bounded_state_streaming_matches_batch(spark, sf_dir, tmp_path):
    """The O(1)-state decide path (transformWithStateInPandas, VERDICT r2 #6):
    per-key state is ≤ 3×BUFFER_KEEP buffer rows + 6 counters instead of the
    windowed aggregation's every-signal collect_list, yet the emitted
    decisions match the batch `decide` row-for-row (same finishing
    expressions; only the untrimmed count/balance travel as counters)."""
    from futures_eos_cdc_spark.streaming.pipeline import (
        ROCKSDB_STATE_STORE_PROVIDER,
        read_signal_stream_files,
        streaming_decide_bounded,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(key, ROCKSDB_STATE_STORE_PROVIDER)
    try:
        path = _write_stream_input(spark, sf_dir, tmp_path)
        q = (
            streaming_decide_bounded(read_signal_stream_files(spark, path))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("bounded1")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        stream_rows = {
            (r.symbol, r.window_start_s): r
            for r in spark.sql("SELECT * FROM bounded1")
            .filter(F.col("symbol") != "SENTINEL")
            .collect()
        }
    finally:
        spark.conf.set(key, old)

    batch_rows = {
        (r.symbol, r.window_start_s): r for r in decide(_signals(spark, sf_dir)).collect()
    }
    assert set(stream_rows) == set(batch_rows) and len(stream_rows) > 0
    for key2, b in batch_rows.items():
        assert stream_rows[key2] == b, (key2, stream_rows[key2], b)


def test_bounded_state_trims_under_flood(spark, tmp_path):
    """Flood one (symbol, window, timeframe) with 200 signals: the bounded
    path must agree with batch `decide` (whose buffers trim to the 10 most
    recent by (ts, id)) — proving the ListState re-trim keeps exactly the
    reference's last-10 semantics while counters carry the untrimmed 200."""
    from futures_eos_cdc_spark.operators.signal_pipeline import WINDOW_SECONDS
    from futures_eos_cdc_spark.streaming.pipeline import (
        ROCKSDB_STATE_STORE_PROVIDER,
        read_signal_stream_files,
        streaming_decide_bounded,
    )

    base_us = 1_700_000_000 * 1_000_000
    rows = [
        (
            i,
            "FLOOD",
            "BUY" if i % 3 == 0 else "SELL",
            0.5,
            100.0 + (i % 37),
            ["1m", "5m", "15m"][i % 3],
            base_us + (i * 1000) % (WINDOW_SECONDS * 1_000_000 - 1),
        )
        for i in range(200)
    ]
    rows.append((999_999_999, "SENTINEL", "BUY", 0.1, 1.0, "1m", SENTINEL_TS_US))
    schema = (
        "signal_id long, symbol string, side string, qty double, price double,"
        " timeframe string, ts_us long"
    )
    sig = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "flood_in")
    sig.coalesce(1).write.mode("overwrite").parquet(path)

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(key, ROCKSDB_STATE_STORE_PROVIDER)
    try:
        q = (
            streaming_decide_bounded(read_signal_stream_files(spark, path))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("bounded_flood")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = (
            spark.sql("SELECT * FROM bounded_flood")
            .filter(F.col("symbol") != "SENTINEL")
            .collect()
        )
    finally:
        spark.conf.set(key, old)

    want = decide(sig.filter(F.col("symbol") != "SENTINEL")).collect()
    assert len(got) == len(want) == 1
    g, w = got[0], want[0]
    assert (g.symbol, g.window_start_s) == (w.symbol, w.window_start_s)
    assert g.n_signals == w.n_signals  # min(count,10) per tf — trimmed
    assert g.balance == w.balance  # untrimmed 200-signal balance via counters
    assert g.action == w.action and g.reason == w.reason
    assert abs(g.avg_price - w.avg_price) <= 1e-5
    assert abs(g.confidence - w.confidence) <= 1e-5


def test_bounded_state_tolerates_unknown_timeframe(spark, tmp_path):
    """A well-formed message with an out-of-enum timeframe must NOT crash
    the bounded-state query (pre-fix, `_TFS.index(tf)` raised ValueError —
    a poison pill that re-crashed on every checkpoint restart). Unknown-tf
    rows are dropped, matching the windowed path's tolerance: the output
    must equal batch `decide` over the valid rows alone."""
    from futures_eos_cdc_spark.operators.signal_pipeline import WINDOW_SECONDS
    from futures_eos_cdc_spark.streaming.pipeline import (
        read_signal_stream_files,
        streaming_decide_bounded,
    )

    base_us = 1_700_000_000 * 1_000_000
    valid = [
        (i, "PPILL", "BUY" if i % 2 else "SELL", 0.5, 100.0 + i,
         ["1m", "5m", "15m"][i % 3],
         base_us + (i * 1000) % (WINDOW_SECONDS * 1_000_000 - 1))
        for i in range(30)
    ]
    poison = [
        (1000 + i, "PPILL", "BUY", 0.5, 100.0, tf,
         base_us + 5_000_000 + i)
        for i, tf in enumerate(["2h", "", "1d", "junk"])
    ]
    rows = valid + poison
    rows.append((999_999_999, "SENTINEL", "BUY", 0.1, 1.0, "1m", SENTINEL_TS_US))
    schema = (
        "signal_id long, symbol string, side string, qty double, price double,"
        " timeframe string, ts_us long"
    )
    sig = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "ppill_in")
    sig.coalesce(1).write.mode("overwrite").parquet(path)

    q = (
        streaming_decide_bounded(read_signal_stream_files(spark, path))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("bounded_ppill")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = (
        spark.sql("SELECT * FROM bounded_ppill")
        .filter(F.col("symbol") != "SENTINEL")
        .collect()
    )
    valid_df = spark.createDataFrame(valid, schema)
    want = decide(valid_df).collect()
    assert len(got) == len(want) == 1
    g, w = got[0], want[0]
    assert (g.symbol, g.window_start_s) == (w.symbol, w.window_start_s)
    assert g.n_signals == w.n_signals
    assert g.balance == w.balance
    assert g.action == w.action and g.reason == w.reason


def test_bounded_state_checkpoint_restart(spark, sf_dir, tmp_path):
    """Checkpoint-restart recovery for the CUSTOM stateful operator: the
    applyInPandasWithState buffers+counters must reload from the state store
    so windows spanning the outage still aggregate phase-1 AND phase-2
    signals, with exactly one emission per (symbol, window)."""
    from futures_eos_cdc_spark.operators.signal_pipeline import decide
    from futures_eos_cdc_spark.streaming.pipeline import (
        ROCKSDB_STATE_STORE_PROVIDER,
        streaming_decide_bounded,
    )

    sig = _signals(spark, sf_dir)
    median_us = sig.approxQuantile("ts_us", [0.5], 0.0)[0]
    early = sig.filter(F.col("ts_us") <= median_us)
    late = sig.filter(F.col("ts_us") > median_us)
    sentinel = spark.createDataFrame(
        [(999_999_999, "SENTINEL", "BUY", 0.1, 1.0, "1m", SENTINEL_TS_US)],
        early.schema,
    )

    in_dir = str(tmp_path / "bs_in")
    out_dir = str(tmp_path / "bs_out")
    ckpt = str(tmp_path / "bs_ckpt")
    early.coalesce(1).write.mode("overwrite").parquet(in_dir)

    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key)
    spark.conf.set(key, ROCKSDB_STATE_STORE_PROVIDER)

    def run_once():
        q = (
            streaming_decide_bounded(read_signal_stream_files(spark, in_dir))
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    try:
        run_once()  # phase 1: no sentinel yet — windows stay open in state
        late.unionByName(sentinel).coalesce(1).write.mode("append").parquet(in_dir)
        run_once()  # phase 2: recovered state + new signals, then emit-all
    finally:
        spark.conf.set(key, old)

    out = spark.read.parquet(out_dir).filter(F.col("symbol") != "SENTINEL")
    assert (
        out.groupBy("symbol", "window_start_s").count().filter("count > 1").count()
        == 0
    )
    batch = decide(early.unionByName(late)).filter(F.col("symbol") != "SENTINEL")
    got = {
        (r.symbol, r.window_start_s, r.n_signals, r.balance, r.action)
        for r in out.collect()
    }
    want = {
        (r.symbol, r.window_start_s, r.n_signals, r.balance, r.action)
        for r in batch.collect()
    }
    # windows straddling the outage prove state recovery: phase-2-only data
    # could not reproduce their batch n_signals/balance
    assert got == want and len(got) > 0


def test_stream_dedup_against_corpus_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static anti-join dedup: the streaming operator admits exactly
    the rows the batch operator keeps (corpus content filtered out, new
    content passes), with no state store involved."""
    from futures_eos_cdc_spark.operators.dedup import dedup_against_corpus
    from futures_eos_cdc_spark.sources.tables import load_table
    from futures_eos_cdc_spark.streaming.pipeline import (
        stream_dedup_against_corpus,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter("doc_id % 4 != 0")
    # the arriving batch: genuinely-new docs plus replays of corpus content
    replays = corpus.limit(20).selectExpr("doc_id + 1000000 AS doc_id", "text")
    batch = docs.filter("doc_id % 4 = 0").unionByName(replays)
    in_path = str(tmp_path / "stream_in")
    batch.coalesce(1).write.mode("overwrite").parquet(in_path)

    expected = {
        r.doc_id
        for r in dedup_against_corpus(batch, corpus, ["text"], "doc_id")
        .select("doc_id")
        .collect()
    }
    # every replayed row must be filtered, every new row kept
    assert expected == {r.doc_id for r in docs.filter("doc_id % 4 = 0").collect()}

    stream = spark.readStream.schema("doc_id long, text string").parquet(in_path)
    q = (
        stream_dedup_against_corpus(stream, corpus, ["text"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.doc_id for r in spark.sql("SELECT doc_id FROM stream_dedup").collect()}
    assert got == expected


def test_streaming_candles_match_batch_exactly(spark, sf_dir, tmp_path):
    """The streaming OHLCV twin must equal the batch candles EXACTLY —
    argmin/argmax open/close and decimal-exact volume/VWAP leave no
    tolerance to hide behind."""
    from futures_eos_cdc_spark.plans.registry import q_ohlcv_candles
    from futures_eos_cdc_spark.streaming.pipeline import streaming_candles

    path = _write_stream_input(spark, sf_dir, tmp_path)
    q = (
        streaming_candles(read_signal_stream_files(spark, path))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cndl1")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream = {
        (r.symbol, r.bucket_s): (r.open, r.high, r.low, r.close, r.volume, r.vwap, r.n_trades)
        for r in spark.sql("SELECT * FROM cndl1").filter(F.col("symbol") != "SENTINEL").collect()
    }
    batch = {
        (r.symbol, r.bucket_s): (r.open, r.high, r.low, r.close, r.volume, r.vwap, r.n_trades)
        for r in q_ohlcv_candles(spark, sf_dir).collect()
    }
    assert stream == batch and len(batch) > 0


def test_streaming_neardup_gate_matches_batch(spark, sf_dir, tmp_path):
    """The foreachBatch near-dup gate admits exactly the docs the batch
    operator admits: a streamed batch slice against the static corpus
    yields the same survivor ids."""
    from futures_eos_cdc_spark.operators.dedup import minhash_dedup_against_corpus
    from futures_eos_cdc_spark.operators.gate_index import DedupGateIndex
    from futures_eos_cdc_spark.streaming.pipeline import dedup_gate_writer

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    batch_sources = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    want = {r.doc_id for r in minhash_dedup_against_corpus(batch_sources, corpus).collect()}
    assert 0 < len(want) < batch_sources.count()  # the gate really fires

    path = str(tmp_path / "neardup_stream")
    batch_sources.coalesce(1).write.mode("overwrite").parquet(path)
    got = set()

    def sink(df, epoch_id):
        got.update(r.doc_id for r in df.collect())

    stream = spark.readStream.schema("doc_id long, text string").parquet(path)
    q = (
        stream.writeStream.foreachBatch(
            dedup_gate_writer("minhash", sink, corpus=corpus)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert got == want

    # production shape: the gate probes the PREBUILT index tables instead
    # of re-hashing the corpus — identical survivors
    idx = DedupGateIndex.build(corpus, str(tmp_path / "ndidx"), "minhash")
    got_idx = set()

    def sink_idx(df, epoch_id):
        got_idx.update(r.doc_id for r in df.collect())

    q2 = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(path)
        .writeStream.foreachBatch(
            dedup_gate_writer("minhash", sink_idx, corpus_index=idx)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_idx"))
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert got_idx == want


def test_stream_candle_store_indicators_end_to_end(spark, sf_dir, tmp_path):
    """The full streaming market-data pipeline: signal stream → watermarked
    OHLCV aggregation → foreachBatch merge into the versioned candle store
    → indicator layer over the store snapshot. The indicators computed
    from the STREAM-FED store must equal the batch technical_indicators
    query exactly (same SQL text over the same candle values)."""
    import os

    from futures_eos_cdc_spark.plans.registry import (
        indicators_over_candles,
        q_technical_indicators,
    )
    from futures_eos_cdc_spark.streaming.outbox import (
        parquet_cdc_merge_writer,
        read_cdc_snapshot,
    )
    from futures_eos_cdc_spark.streaming.pipeline import streaming_candles

    path = _write_stream_input(spark, sf_dir, tmp_path)
    base = str(tmp_path / "candle_store")
    os.makedirs(base)
    write = parquet_cdc_merge_writer(base, ["symbol", "bucket_s"], ts_col="bucket_s")

    def write_batch(df, epoch_id):
        # candles are upserts keyed (symbol, bucket_s); latest-wins on
        # replay, no deletes in this stream
        write(df.withColumn("op", F.lit("u")), epoch_id)

    q = (
        streaming_candles(read_signal_stream_files(spark, path))
        .writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ck_cs"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    write.release()

    candles = read_cdc_snapshot(spark, base).filter(
        F.col("symbol") != "SENTINEL"
    ).drop("op")
    got = {
        (r.symbol, r.bucket_s): (r.sma20, r.boll_up, r.boll_dn, r.rsi14, r.n20)
        for r in indicators_over_candles(spark, candles).collect()
    }
    want = {
        (r.symbol, r.bucket_s): (r.sma20, r.boll_up, r.boll_dn, r.rsi14, r.n20)
        for r in q_technical_indicators(spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_simhash64_gate_matches_batch(spark, sf_dir, tmp_path):
    """r6 VERDICT item 8: the simhash64 foreachBatch admission gate admits
    exactly the docs the batch operator admits, over BOTH corpus forms —
    raw documents and the persisted block index."""
    from futures_eos_cdc_spark.operators.dedup import simhash64_dedup_against_corpus
    from futures_eos_cdc_spark.operators.gate_index import DedupGateIndex
    from futures_eos_cdc_spark.streaming.pipeline import dedup_gate_writer

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    batch_sources = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    want = {
        r.doc_id
        for r in simhash64_dedup_against_corpus(batch_sources, corpus).collect()
    }
    assert 0 < len(want) < batch_sources.count()  # the gate really fires

    path = str(tmp_path / "sh64_stream")
    batch_sources.coalesce(1).write.mode("overwrite").parquet(path)

    idx = DedupGateIndex.build(corpus, str(tmp_path / "shidx"), "simhash64")

    forms = [("raw", corpus, None), ("idx", None, idx)]
    for tag, corpus_form, index_form in forms:
        got = set()

        def sink(df, epoch_id, got=got):
            got.update(r.doc_id for r in df.collect())

        q = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(path)
            .writeStream.foreachBatch(
                dedup_gate_writer(
                    "simhash64", sink, corpus=corpus_form, corpus_index=index_form
                )
            )
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        assert got == want, tag


def test_streaming_containment_gate_matches_batch(spark, sf_dir, tmp_path):
    """The foreachBatch containment gate admits exactly the docs the batch
    operator admits: fragments of longer corpus docs are rejected, all
    other streamed docs pass."""
    from futures_eos_cdc_spark.operators.dedup import contained_in_corpus
    from futures_eos_cdc_spark.streaming.pipeline import dedup_gate_writer

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    # planted fragments: substrings of corpus docs, plus clean pass-through
    frag = corpus.limit(3).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.expr("substring(text, 3, 40)").alias("text"),
    )
    batch = docs.filter(F.col("doc_id") % 4 == 0).union(frag)
    want = {r.doc_id for r in contained_in_corpus(batch, corpus).collect()}
    assert len(want) < batch.count()  # the planted fragments are rejected
    assert not any(i >= 1_000_000 for i in want)

    path = str(tmp_path / "cont_stream")
    batch.coalesce(1).write.mode("overwrite").parquet(path)
    got = set()

    def sink(df, epoch_id):
        got.update(r.doc_id for r in df.collect())

    q = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(path)
        .writeStream.foreachBatch(
            dedup_gate_writer("containment", sink, corpus=corpus)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_cont"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert got == want


def test_stream_quality_gate_matches_batch(spark, sf_dir, tmp_path):
    """The streaming quality gate is a pure stream filter (no state, no
    foreachBatch) and admits exactly the docs the batch classifier keeps."""
    from futures_eos_cdc_spark.operators.text import hashed_classifier_logit_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    want = {
        r.doc_id
        for r in docs.filter(
            hashed_classifier_logit_expr(F.col("text")) > 0.0
        ).collect()
    }
    assert 0 < len(want) < docs.count()  # the gate really splits the corpus

    path = str(tmp_path / "qgate_stream")
    docs.coalesce(1).write.mode("overwrite").parquet(path)
    got = set()

    q = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(path)
        .filter(hashed_classifier_logit_expr(F.col("text")) > 0.0)
        .writeStream.foreachBatch(
            lambda df, _e: got.update(r.doc_id for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_qgate"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert got == want


def test_stream_selection_gate_composes_and_matches_batch(spark, sf_dir, tmp_path):
    """The round-11 composed selection gate (Gopher rules + quality
    threshold + Bloom novelty + DSIR score threshold in ONE projection):
    the streaming admitted set must equal the batch evaluation of the
    identical predicate, and the composition must genuinely be the
    intersection of its component gates."""
    from futures_eos_cdc_spark.operators.bloom import bloom_bitmap
    from futures_eos_cdc_spark.operators.dsir import (
        bucket_expr,
        dsir_ratio_literal,
        grams_expr,
    )
    from futures_eos_cdc_spark.operators.text import tokens_expr
    from futures_eos_cdc_spark.streaming.pipeline import selection_gate_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    # reference corpus for the Bloom gate: the first 50 docs (so later
    # duplicates of their text probe positive)
    bitmap = bloom_bitmap(docs.filter(F.col("doc_id") < 50))
    # DSIR ratios: treat lang='en' as the target distribution
    counts = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            "lang",
            (F.col("lang") == "en").alias("is_t"),
            F.explode(grams_expr(tokens_expr(F.col("text")))).alias("gram"),
        )
        .groupBy("doc_id", "lang", "is_t", bucket_expr(F.col("gram")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ratios = dsir_ratio_literal(counts)

    kw = dict(
        gopher=True,
        quality_threshold=-0.05,
        bloom_bitmap=bitmap,
        dsir_ratios=ratios,
        dsir_threshold=-100.0,
    )
    batch_keep = {
        r.doc_id
        for r in docs.filter(selection_gate_expr(F.col("text"), **kw)).collect()
    }
    assert 0 < len(batch_keep) < docs.count()

    # composition == intersection of the single-component gates
    inter = None
    for single in (
        dict(gopher=True),
        dict(gopher=False, quality_threshold=-0.05),
        dict(gopher=False, bloom_bitmap=bitmap),
        dict(gopher=False, dsir_ratios=ratios, dsir_threshold=-100.0),
    ):
        ids = {
            r.doc_id
            for r in docs.filter(
                selection_gate_expr(F.col("text"), **single)
            ).collect()
        }
        inter = ids if inter is None else (inter & ids)
    assert batch_keep == inter

    path = str(tmp_path / "selgate_stream")
    docs.coalesce(1).write.mode("overwrite").parquet(path)
    got = set()
    q = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .parquet(path)
        .filter(selection_gate_expr(F.col("text"), **kw))
        .writeStream.foreachBatch(
            lambda df, _e: got.update(r.doc_id for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_selgate"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert got == batch_keep


def test_selection_gate_writer_epoch_form(spark, sf_dir, tmp_path):
    """The selection gate in foreachBatch epoch form: the sink receives
    the admitted subset of each micro-batch with its epoch id."""
    from futures_eos_cdc_spark.streaming.pipeline import selection_gate_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    want = {
        r.doc_id
        for r in docs.filter(selection_gate_expr(F.col("text"))).collect()
    }
    path = str(tmp_path / "selgw_stream")
    docs.coalesce(1).write.mode("overwrite").parquet(path)
    seen: dict[int, set] = {}

    def sink(df, epoch_id):
        seen.setdefault(epoch_id, set()).update(r.doc_id for r in df.collect())

    q = (
        spark.readStream.schema("doc_id long, text string")
        .parquet(path)
        .writeStream.foreachBatch(
            lambda df, e: sink(df.filter(selection_gate_expr(F.col("text"))), e)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_selgw"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert set().union(*seen.values()) == want
    assert all(isinstance(e, int) for e in seen)


def test_selection_gate_null_text(spark):
    """NULL text: Gopher fails it (unscoreable), the Bloom component
    treats it as NEW — the documented conventions."""
    from futures_eos_cdc_spark.operators.bloom import bloom_bitmap
    from futures_eos_cdc_spark.streaming.pipeline import selection_gate_expr

    docs = spark.createDataFrame(
        [(1, None), (2, "the a of and in to is that " + "word " * 10)],
        "doc_id long, text string",
    )
    kept = {
        r.doc_id for r in docs.filter(selection_gate_expr(F.col("text"))).collect()
    }
    assert kept == {2}  # NULL fails gopher
    ref = spark.createDataFrame([(0, "other")], "doc_id long, text string")
    bm = bloom_bitmap(ref)
    kept2 = {
        r.doc_id
        for r in docs.filter(
            selection_gate_expr(F.col("text"), gopher=False, bloom_bitmap=bm)
        ).collect()
    }
    assert kept2 == {1, 2}  # NULL is new; non-dup text is new


def test_with_derived_lang_streams_natively(spark, tmp_path):
    """Language derivation is a pure projection, so with_derived_lang
    plans on a stream unchanged — the router a per-language ingestion
    sink (partitionBy(lang)) composes on. Stream output must equal the
    batch projection."""
    from futures_eos_cdc_spark.operators.langid import (
        langid_model,
        with_derived_lang,
    )

    rows = []
    for i in range(6):
        rows.append((i, "aa", "the quick brown fox jumps over the lazy dog"))
        rows.append((100 + i, "bb", "zyx wvu tsr qpo nml kji"))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    model = langid_model(docs)
    want = {
        (r.doc_id, r.lang) for r in with_derived_lang(docs, model).collect()
    }

    path = str(tmp_path / "dlang_stream")
    docs.coalesce(1).write.mode("overwrite").parquet(path)
    got = set()
    q = (
        with_derived_lang(
            spark.readStream.schema("doc_id long, lang string, text string")
            .parquet(path),
            model,
        )
        .writeStream.foreachBatch(
            lambda df, _e: got.update((r.doc_id, r.lang) for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_dlang"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert got == want
    assert {l for _, l in got} == {"aa", "bb"}  # classifier separated them


def test_selection_gate_language_component(spark):
    """The langid component of the composed gate: keep only documents the
    classifier assigns to the allowed set — CCNet's first gate. Pure
    projection, parity with the standalone langid_score predictions."""
    from futures_eos_cdc_spark.operators.langid import langid_model, langid_score
    from futures_eos_cdc_spark.streaming.pipeline import selection_gate_expr

    rows = []
    for i in range(8):
        rows.append((i, "aa", "the quick brown fox jumps over the lazy dog"))
        rows.append((100 + i, "bb", "zyx wvu tsr qpo nml kji"))
        rows.append((200 + i, "cc", "1234 5678 9012 3456 789"))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    model = langid_model(docs)
    want = {
        r.doc_id
        for r in langid_score(docs, model).collect()
        if r.pred_lang in {"aa", "cc"}
    }
    got = {
        r.doc_id
        for r in docs.filter(
            selection_gate_expr(
                F.col("text"),
                gopher=False,
                langid_model=model,
                keep_langs={"aa", "cc"},
            )
        ).collect()
    }
    assert got == want
    assert got  # non-degenerate
    assert not any(100 <= d < 200 for d in got)  # bb gated out

    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep_langs"):
        selection_gate_expr(F.col("text"), langid_model=model)
