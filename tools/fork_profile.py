"""Count the processes the JVM forks per streaming trigger, by Spark caller.

Usage:
    python tools/fork_profile.py [--batches 8] [--rows 1000] [--work DIR]

Runs a short file-source stream, ``streaming_decide`` into a
``foreachBatch`` sink of ``decisions_to_orders`` and
``parquet_orders_outbox_writer`` (the shape of the EOS path), in a fresh
JVM started with ``-XX:StartFlightRecording``. Each trigger reads one
pre-written file of ``--rows`` signals that fall in one 5-minute window, so
every trigger closes the previous window and publishes orders. After the
stream the recording is dumped and ``jfr print --json --events
jdk.ProcessStart`` is parsed: each fork is attributed to the trigger whose
``triggerExecution`` span holds its start time, and grouped by the first
``org.apache.spark`` frame on its stack plus the forked command. Forks
outside every trigger (session start, query start) are counted apart.

Without libhadoop (``NativeCodeLoader`` false), Hadoop's local filesystem
falls back to shell commands (``chmod``, ``readlink``...) for permissions
and link status; this tool shows how many of those each trigger pays and
which checkpoint or sink code path pays them. Run it standalone, not inside
another Spark application: the recording options only apply to a JVM that
this process launches. The session takes its cores from
``$SPARK_GRAFT_CPUS`` like any ``get_spark`` session.
"""

from __future__ import annotations

import argparse
import collections
import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WINDOW_US = 300 * 1_000_000
EVENT_BASE_US = 1_704_067_200_000_000  # 2024-01-01 00:00 UTC, a window start
SYMBOLS = ("BTCUSDT", "ETHUSDT", "SOLUSDT", "XRPUSDT", "NAS100")
BASE_PRICES = (65000.0, 3000.0, 160.0, 0.6, 20000.0)
TIMEFRAMES = ("1m", "5m", "15m")


def write_inputs(src: str, batches: int, rows: int) -> None:
    """One parquet file per window: skewed sides so windows are actionable."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(src)
    rng = np.random.default_rng(7)
    for b in range(batches):
        sym = rng.integers(0, len(SYMBOLS), rows)
        buy_p = np.where(sym % 2 == b % 2, 0.85, 0.15)
        table = pa.table({
            "signal_id": np.arange(b * rows, (b + 1) * rows, dtype=np.int64),
            "symbol": np.asarray(SYMBOLS)[sym],
            "side": np.where(rng.random(rows) < buy_p, "BUY", "SELL"),
            "qty": rng.random(rows) * 0.49 + 0.01,
            "price": np.asarray(BASE_PRICES)[sym] * (1.0 + (rng.random(rows) - 0.5) * 0.006),
            "timeframe": np.asarray(TIMEFRAMES)[rng.integers(0, 3, rows)],
            "ts_us": EVENT_BASE_US + b * WINDOW_US
            + np.sort(rng.integers(0, WINDOW_US, rows)).astype(np.int64),
        })
        pq.write_table(table, os.path.join(src, f"batch{b:04d}.parquet"))


def run_stream(work: str, batches: int, rows: int) -> tuple[str, list[dict]]:
    """Run the stream under a flight recording; return the recording's path
    and the query's progress events."""
    from futures_eos_cdc_spark.operators.order_pipeline import (
        decisions_to_orders,
        market_prices_df,
    )
    from futures_eos_cdc_spark.session import get_spark
    from futures_eos_cdc_spark.streaming.outbox import parquet_orders_outbox_writer
    from futures_eos_cdc_spark.streaming.pipeline import (
        SIGNAL_STREAM_SCHEMA,
        streaming_decide,
    )

    src = os.path.join(work, "signals")
    write_inputs(src, batches, rows)
    recording = os.path.join(work, "forks.jfr")
    spark = get_spark(
        "fork-profile",
        extra_conf={
            "spark.driver.extraJavaOptions": "-XX:FlightRecorderOptions:stackdepth=256"
            " -XX:StartFlightRecording",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    writer = parquet_orders_outbox_writer(os.path.join(work, "sink"))

    def sink(batch_df, epoch_id: int) -> None:
        writer(decisions_to_orders(batch_df, market_prices_df(batch_df.sparkSession)), epoch_id)

    stream = (
        spark.readStream.schema(SIGNAL_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    query = (
        streaming_decide(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(work, "checkpoint"))
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    progress = [json.loads(p.json) for p in query.recentProgress]
    jvm = spark._jvm
    for rec in jvm.jdk.jfr.FlightRecorder.getFlightRecorder().getRecordings():
        rec.dump(jvm.java.io.File(recording).toPath())
    spark.stop()
    return recording, progress


def _instant(text: str) -> float:
    """Epoch seconds of an ISO-8601 instant (Python 3.11 parses the "Z"
    suffix and truncates JFR's nanosecond digits)."""
    return dt.datetime.fromisoformat(text).timestamp()


def fork_events(recording: str) -> list[dict]:
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "256", "--events", "jdk.ProcessStart",
         recording],
        check=True, capture_output=True, text=True,
    ).stdout
    return json.loads(out)["recording"]["events"]


def spark_caller(event: dict) -> str:
    """The first org.apache.spark frame on the fork's stack (lambda
    trampolines skipped)."""
    for frame in (event["values"].get("stackTrace") or {}).get("frames", []):
        method = frame["method"]
        cls = method["type"]["name"].replace("/", ".")
        if cls.startswith("org.apache.spark.") and not method["type"].get("hidden"):
            return f"{cls.rsplit('.', 1)[-1]}.{method['name']}"
    return "(no Spark frame)"


def report(events: list[dict], progress: list[dict]) -> None:
    spans = []
    for p in progress:
        start = _instant(p["timestamp"])
        spans.append((p["batchId"], start, start + p["durationMs"]["triggerExecution"] / 1000))
    per_trigger = collections.Counter()
    groups = collections.Counter()
    outside = 0
    for e in events:
        t = _instant(e["values"]["startTime"])
        hit = next((b for b, lo, hi in spans if lo <= t <= hi), None)
        if hit is None:
            outside += 1
            continue
        per_trigger[hit] += 1
        command = os.path.basename(e["values"]["command"].split()[0])
        groups[(spark_caller(e), command)] += 1
    n = max(1, len(spans))
    inside = sum(per_trigger.values())
    print(f"triggers: {len(spans)}  forks in triggers: {inside}"
          f"  ({inside / n:.1f} per trigger)  forks outside triggers: {outside}")
    print("forks per trigger (batchId: count): "
          + ", ".join(f"{b}: {per_trigger[b]}" for b, _, _ in spans))
    print(f"{'first Spark frame':<64} {'command':<10} {'forks':>6} {'/trigger':>9}")
    for (caller, command), count in groups.most_common():
        print(f"{caller:<64} {command:<10} {count:>6} {count / n:>9.1f}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--batches", type=int, default=8, help="input files, one trigger each")
    ap.add_argument("--rows", type=int, default=1000, help="signals per input file")
    ap.add_argument("--work", help="keep inputs, checkpoint and recording here")
    args = ap.parse_args()
    work = args.work or tempfile.mkdtemp(prefix="fork_profile_")
    try:
        recording, progress = run_stream(work, args.batches, args.rows)
        report(fork_events(recording), progress)
    finally:
        if not args.work:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
