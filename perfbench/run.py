"""The repository benchmark: one command, checked outputs.

    python3 perfbench/run.py --workload eos_1k --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Every run starts a fresh Spark session
(``futures_eos_cdc_spark.session.get_spark``) and builds its own inputs from
``--seed``; the package only ever sees the generated inputs. Workloads
(why each exists: perfbench/README.md):

- ``eos_1k``: an open-loop generator process drops signal files at 1,000
  signals/s; Spark runs ``streaming_decide`` into a ``foreachBatch`` sink
  calling ``decisions_to_orders`` and ``parquet_orders_outbox_writer`` on a
  1 s trigger. ``warmup_s`` of load, then ``--seconds`` of measured load.
- ``batch_mix``: one sf0.001 registry query per family (trading, TPC-H, the
  two model-cache operators) and the near-dup family on a ``scale_synth``
  ×10 corpus, in one session: a cold pass, ``warmup_s`` of warm passes,
  then ``--seconds`` of measured warm passes.
- ``eos_64k``, ``query_floor``, ``corpus_x10``: reference runs, not gated
  in ``BENCHMARK.json``: the eos stream at 64,000 signals/s, and each half
  of ``batch_mix`` on its own.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and reports the per-layer metrics. Lines ``metric value
unit`` go to stdout, and the last stdout line is the JSON result. The exit
code is 0 only when every output matched its reference.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import signal_gen  # noqa: E402

TRIGGER = "1 second"
GEN_LAG_LIMIT_MS = 1000.0 * signal_gen.TICK_S  # later than one tick: run failed
DRAIN_TIMEOUT_S = 60.0
EVENT_BASE_US = 1_704_067_200_000_000  # 2024-01-01, a window boundary
WINDOW_S = 300
# pass_s is a median of at least three measured passes
MIN_WARM_PASSES = 3

# (query name, module that owns its work)
CORPUS_QUERIES = [
    ("ngram_jaccard_near_dup", "dedup"),
    ("minhash_lsh_near_dup", "dedup"),
]
# One query per family; langid_scores and ann_cosine_ivf build driver-side
# model caches on their first call. q1_pricing_summary has no operator
# module: the plans registry builds it.
FLOOR_QUERIES = [
    ("signal_decisions", "signal_pipeline"),
    ("q1_pricing_summary", "registry"),
    ("langid_scores", "langid"),
    ("ann_cosine_ivf", "similarity"),
]

# Batch inputs: datagen.py's tables at (sf, docs_sf), scaled ×factor by
# scale_synth when factor > 1, and the queries that run on them.
FLOOR_INPUT = {"sf": 0.001, "docs_sf": 0.001, "factor": 1, "queries": FLOOR_QUERIES}
# 250 generated documents, scaled ×10 into disjoint replicas
CORPUS_INPUT = {"sf": 0.001, "docs_sf": 0.005, "factor": 10, "queries": CORPUS_QUERIES}

# ``warmup_s``: load (eos) or warm passes (batch) before the measured
# window, untimed: the JIT-compiled code is still changing fast over the
# first seconds of a fresh session.
WORKLOADS = {
    "eos_1k": {"kind": "eos", "rate": 1_000, "warmup_s": 10},
    "eos_64k": {"kind": "eos", "rate": 64_000, "warmup_s": 10},
    "batch_mix": {"kind": "batch", "inputs": [FLOOR_INPUT, CORPUS_INPUT], "warmup_s": 5},
    "query_floor": {"kind": "batch", "inputs": [FLOOR_INPUT], "warmup_s": 5},
    "corpus_x10": {"kind": "batch", "inputs": [CORPUS_INPUT], "warmup_s": 5},
}

END_TO_END = {
    "setup_s": "s",
    "latency_s": "s",
    "throughput_rps": "1/s",
    "pass_s": "s",
    "cold_pass_s": "s",
}

_STREAM_LAYER = {
    "sources.gen_lag_ms_max": "ms",
    "sources.files_behind_max": "count",
    "sources.backlog_rows_end": "count",
    "sources.getBatch_ms_p50": "ms",
    "streaming.pipeline.queryPlanning_ms_p50": "ms",
    "streaming.pipeline.walCommit_ms_p50": "ms",
    "streaming.pipeline.addBatch_ms_p50": "ms",
    "streaming.pipeline.addBatch_ms_p90": "ms",
    "streaming.pipeline.addBatch_minus_sink_ms_p50": "ms",
    "streaming.pipeline.triggerExecution_ms_p50": "ms",
    "streaming.pipeline.triggerExecution_ms_p90": "ms",
    "streaming.pipeline.state_rows_max": "count",
    "streaming.pipeline.state_memory_bytes_max": "bytes",
    "streaming.pipeline.state_commit_ms_p50": "ms",
    "streaming.pipeline.rows_dropped_by_watermark": "count",
    "operators.order_pipeline.build_ms_p50": "ms",
    "streaming.outbox.write_ms_p50": "ms",
    "streaming.outbox.write_ms_p90": "ms",
    "streaming.outbox.files_in_table_end": "count",
    "streaming.outbox.new_over_attempted": "ratio",
}
_QUERY_FIELDS = {
    "build_ms": "ms", "exec_ms": "ms", "cold_minus_warm_ms": "ms",
    "jobs": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
}

# Every workload reports every per-layer metric; a layer the workload does
# not run reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.scale_synth_s": "s",
    **_STREAM_LAYER,
    **{f"{mod}.{q}.{f}": u for q, mod in FLOOR_QUERIES + CORPUS_QUERIES
       for f, u in _QUERY_FIELDS.items()},
}


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]) of a non-empty sequence."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q / 100.0 * len(s) + 0.5)) - 1))]


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    """State of one benchmark run: its work dir, session and findings."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 cpus: int):
        self.t0 = time.perf_counter()
        self.workload = workload
        self.spec = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = cpus
        self.dir = os.path.join(WORK, f"{workload}-s{seed}-p{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "spark-local", "eventlog"):
            os.makedirs(os.path.join(self.dir, sub))
        # The package's lazily persisted model tables live under
        # tempfile.gettempdir(); keep them inside the run dir.
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
        # no hsperfdata files in /tmp from the spark-submit launcher JVM
        os.environ.setdefault("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData")
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.marks: list[tuple[str, float]] = []
        self.samples: dict[str, object] = {}  # raw samples, for --out
        self.spark = None

    def mark(self, phase: str) -> None:
        """Record the end of a run phase (printed as a note)."""
        self.marks.append((phase, time.perf_counter()))

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.notes.append(why)

    def start_session(self) -> None:
        from futures_eos_cdc_spark.session import get_spark

        t = time.perf_counter()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
            # no hsperfdata files in /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.dir, 'tmp')} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": os.path.join(self.dir, "eventlog"),
            })
        self.spark = get_spark(
            f"perfbench-{self.workload}", cpus=self.cpus,
            shuffle_partitions=self.cpus, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())
        self.layer["session.start_s"] = time.perf_counter() - t
        self.mark("session")

    def describe(self, what: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobDescription(f"{self.workload}/{what}")

    def stop(self) -> None:
        """Stop the session, then end the JVM and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------------------
# Streaming workloads
# ---------------------------------------------------------------------------
def run_eos(run: Run) -> None:
    from futures_eos_cdc_spark.operators.order_pipeline import (
        decisions_to_orders,
        market_prices_df,
    )
    from futures_eos_cdc_spark.streaming.outbox import parquet_orders_outbox_writer
    from futures_eos_cdc_spark.streaming.pipeline import (
        read_signal_stream_files,
        streaming_decide,
    )

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    rate, seconds = run.spec["rate"], run.spec["warmup_s"] + run.seconds
    src = os.path.join(run.dir, "signals")
    sink_dir = os.path.join(run.dir, "sink")
    os.makedirs(src)

    writer = parquet_orders_outbox_writer(sink_dir)
    sink_log: dict[int, tuple[float, float, float]] = {}
    offered = [0]

    def sink(batch_df, epoch_id: int) -> None:
        run.describe(f"sink/{epoch_id}")
        t0 = time.time()
        orders = decisions_to_orders(batch_df, market_prices_df(batch_df.sparkSession))
        t1 = time.time()
        if run.trace:  # count rows offered to the writer inside its own job
            obs = Observation(f"offered_{epoch_id}")
            orders = orders.observe(obs, F.count(F.lit(1)).alias("n"))
        writer(orders, epoch_id)
        sink_log.setdefault(epoch_id, (t0, t1, time.time()))
        if run.trace:
            offered[0] += obs.get["n"]

    # Warm-up input: one window before the measured ones, processed before
    # the load starts. Its batch is the cold pass (first pass of a fresh
    # session); the first measured batch closes it.
    rows_per_tick = int(rate * signal_gen.TICK_S)
    warm_base = EVENT_BASE_US - WINDOW_S * 1_000_000
    bias = signal_gen.window_bias(run.seed, 1)
    warm = pa.concat_tables([
        signal_gen.tick_table(t, rows_per_tick, run.seed, warm_base, bias)
        for t in range(int(1 / signal_gen.TICK_S))
    ])
    warm = warm.set_column(  # ids below the generator's, which start at 0
        0, "signal_id", pc.subtract(pc.negate(warm.column(0)), 1))
    pq.write_table(warm, os.path.join(src, ".tmp-warmup.parquet"))
    os.rename(os.path.join(src, ".tmp-warmup.parquet"),
              os.path.join(src, "warmup.parquet"))

    run.start_session()
    spark = run.spark
    query = (
        streaming_decide(read_signal_stream_files(spark, src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(run.dir, "checkpoint"))
        .trigger(processingTime=TRIGGER)
        .start()
    )
    # Set-up ends when the query is started; the warm-up batch that follows
    # is cold_pass_s.
    setup_s = time.perf_counter() - run.t0
    deadline = time.time() + DRAIN_TIMEOUT_S
    while True:
        progress = [json.loads(p.json) for p in query.recentProgress]
        if any(p["numInputRows"] > 0 for p in progress):
            break
        if query.exception() is not None or time.time() > deadline:
            query.stop()
            raise RuntimeError(f"warm-up did not complete: {query.exception()}")
        time.sleep(0.1)
    warm_batches = len(progress)
    run.mark("warm-up")

    # The generator's interpreter starts first. Its windows close half-way
    # between the processing-time triggers, which fire on whole seconds
    # since the epoch, so no run draws a luckier trigger phase than another.
    start_wall = math.ceil(time.time() + 1.0) + 0.5
    t = time.perf_counter()
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "signal_gen.py"), "--out", src,
         "--rate", str(rate), "--seconds", str(seconds), "--seed", str(run.seed),
         "--start-wall", repr(start_wall), "--event-base-us", str(EVENT_BASE_US)],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        run.e2e["setup_s"] = setup_s + time.perf_counter() - t
        gen_out, _ = gen.communicate(timeout=seconds + 30)
        run.mark("load")
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"signal generator exited {gen.returncode}")
    gen_summary = json.loads(gen_out.strip().splitlines()[-1])
    total_rows = gen_summary["rows"] + warm.num_rows

    # Drain: every generated row committed, then the no-data batch that
    # advances the watermark past the last closable window.
    deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < deadline:
        if query.exception() is not None:
            break
        progress = [json.loads(p.json) for p in query.recentProgress]
        last_data = max(p["batchId"] for p in progress if p["numInputRows"] > 0)
        if sum(p["numInputRows"] for p in progress) >= total_rows \
                and progress[-1]["batchId"] > last_data:
            break
        time.sleep(0.2)
    else:
        run.fail(1, f"stream did not drain within {DRAIN_TIMEOUT_S:.0f} s")
    run.layer["session.peak_rss_mb"] = peak_rss_mb(run.jvm_pid)
    run.mark("drain")
    exc = query.exception()
    query.stop()
    if exc is not None:
        raise RuntimeError(f"streaming query failed: {exc}")

    run.e2e["cold_pass_s"] = next(
        p for p in progress if p["numInputRows"] > 0
    )["durationMs"]["triggerExecution"] / 1000.0
    load = progress[warm_batches:]
    measured = [p for p in load
                if _iso_epoch(p["timestamp"]) >= start_wall + run.spec["warmup_s"]]
    warmup_rows = sum(p["numInputRows"] for p in load[:len(load) - len(measured)])
    _eos_metrics(run, measured, warmup_rows, sink_log, sink_dir, gen_summary,
                 start_wall, offered[0])
    _eos_check(run, src, sink_dir)
    run.mark("check")


def _epoch_orders(sink_dir: str):
    """(epoch, symbol, window_start_s, client_order_id) per committed order."""
    import pyarrow.parquet as pq

    rows = []
    for path in glob.glob(os.path.join(sink_dir, "orders", "epoch*.parquet")):
        epoch = int(os.path.basename(path)[len("epoch"):].split("_", 1)[0])
        t = pq.read_table(path, columns=["symbol", "created_at_s", "client_order_id"])
        for sym, ws, cid in zip(*(t.column(c).to_pylist() for c in t.column_names)):
            rows.append((epoch, sym, ws, cid))
    return rows


def _eos_metrics(run, progress, warmup_rows, sink_log, sink_dir, gen,
                 start_wall, offered) -> None:
    """Metrics over the measured micro-batches: ``progress`` holds those
    that started after the warm-up load (``warmup_rows`` generated rows were
    committed before them); the windows measured are the ones the
    generator's clock opened after it."""
    warmup_s, rate = run.spec["warmup_s"], run.spec["rate"]
    rows_per_file = int(rate * signal_gen.TICK_S)
    base_s = EVENT_BASE_US // 1_000_000
    orders = _epoch_orders(sink_dir)
    latencies = []
    for epoch, _sym, ws, _cid in orders:
        k = (ws - base_s) // WINDOW_S  # window k closes on the generator clock
        if k >= warmup_s:
            latencies.append(sink_log[epoch][2] - (start_wall + k + 1))
    if not latencies:
        raise RuntimeError("no orders committed")

    measured_ids = {p["batchId"] for p in progress}
    sink_log = {e: v for e, v in sink_log.items() if e in measured_ids}
    data = [p for p in progress if p["numInputRows"] > 0]
    ends = []
    for p in data:
        t = _iso_epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
        ends.append((t, p["numInputRows"]))
    if len(data) < 2:
        raise RuntimeError(f"{len(data)} measured micro-batches with data, need 2")
    trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in data]
    run.samples.update({"latencies": latencies, "trigger_s": trig})
    # A batch commits the files that arrived while the one before it ran, so
    # the rows of batches 2..n arrived over the span from end 1 to end n.
    committed_rows = sum(n for _t, n in ends[1:])
    run.e2e.update({
        # a mean: windows that close in the same micro-batch wait one
        # window apart, which makes the median jump between runs
        "latency_s": statistics.fmean(latencies),
        "throughput_rps": committed_rows / (ends[-1][0] - ends[0][0]),
        "pass_s": statistics.median(trig),
    })
    run.notes.append(
        f"latency samples={len(latencies)} (committed orders of closed windows), "
        f"throughput base={committed_rows} rows committed by data micro-batches "
        f"2..{len(data)}, "
        f"p50 {statistics.median(latencies):.3f} s, p75 {pct(latencies, 75):.3f} s, "
        f"p90 {pct(latencies, 90):.3f} s; data micro-batches={len(data)} "
        f"({', '.join(f'{t:.2f}' for t in trig)} s); "
        f"generator lag max {gen['lag_ms_max']:.1f} ms"
    )
    if gen["lag_ms_max"] > GEN_LAG_LIMIT_MS:
        run.fail(1, f"generator ran {gen['lag_ms_max']:.0f} ms late "
                    f"(limit {GEN_LAG_LIMIT_MS:.0f} ms): load was not open loop")

    # per-layer: sources
    committed, behind = warmup_rows, []
    for t_end, n in ends:
        committed += n
        written = min(gen["files"], int((t_end - start_wall) / signal_gen.TICK_S))
        behind.append(written - committed / rows_per_file)
    gen_end = start_wall + warmup_s + run.seconds
    done_by_end = sum(n for t, n in ends if t <= gen_end)
    dur = [p["durationMs"] for p in data]
    state = [p["stateOperators"][0] for p in data if p["stateOperators"]]
    sink_ms = {e: (v[2] - v[0]) * 1000.0 for e, v in sink_log.items()}
    write_ms = [(v[2] - v[1]) * 1000.0 for v in sink_log.values()]
    add_minus_sink = [p["durationMs"]["addBatch"] - sink_ms.get(p["batchId"], 0.0)
                      for p in progress if "addBatch" in p["durationMs"]]
    n_files = len(glob.glob(os.path.join(sink_dir, "orders", "*.parquet")))
    run.layer.update({
        "sources.gen_lag_ms_max": gen["lag_ms_max"],
        "sources.files_behind_max": max(behind),
        "sources.backlog_rows_end": gen["rows"] - warmup_rows - done_by_end,
        "sources.getBatch_ms_p50": statistics.median(
            d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur),
        "streaming.pipeline.queryPlanning_ms_p50": statistics.median(
            d.get("queryPlanning", 0) for d in dur),
        "streaming.pipeline.walCommit_ms_p50": statistics.median(
            d.get("walCommit", 0) for d in dur),
        "streaming.pipeline.addBatch_ms_p50": statistics.median(
            d.get("addBatch", 0) for d in dur),
        "streaming.pipeline.addBatch_ms_p90": pct([d.get("addBatch", 0) for d in dur], 90),
        "streaming.pipeline.addBatch_minus_sink_ms_p50": statistics.median(add_minus_sink),
        "streaming.pipeline.triggerExecution_ms_p50": statistics.median(
            d["triggerExecution"] for d in dur),
        "streaming.pipeline.triggerExecution_ms_p90": pct(
            [d["triggerExecution"] for d in dur], 90),
        "streaming.pipeline.state_rows_max": max(s["numRowsTotal"] for s in state),
        "streaming.pipeline.state_memory_bytes_max": max(s["memoryUsedBytes"] for s in state),
        "streaming.pipeline.state_commit_ms_p50": statistics.median(
            s["commitTimeMs"] for s in state),
        "streaming.pipeline.rows_dropped_by_watermark": sum(
            s["numRowsDroppedByWatermark"] for s in state),
        "operators.order_pipeline.build_ms_p50": statistics.median(
            (v[1] - v[0]) * 1000.0 for v in sink_log.values()),
        "streaming.outbox.write_ms_p50": statistics.median(write_ms),
        "streaming.outbox.write_ms_p90": pct(write_ms, 90),
        "streaming.outbox.files_in_table_end": n_files,
    })
    if run.trace:
        run.layer["streaming.outbox.new_over_attempted"] = len(orders) / max(1, offered)
        run.notes.append(f"outbox new/attempted = {len(orders)}/{offered} orders")
    run.notes.append(f"sink epochs={len(sink_log)}")


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _eos_check(run, src: str, sink_dir: str) -> None:
    """Committed orders == the orders batch ``decide`` derives from the same
    files over the windows that could close; one outbox event per order."""
    from pyspark.sql import functions as F

    from futures_eos_cdc_spark.operators.order_pipeline import (
        decisions_to_orders,
        market_prices_df,
        orders_to_outbox,
        outbox_event_router,
    )
    from futures_eos_cdc_spark.operators.signal_pipeline import decide

    spark = run.spark
    run.describe("check")
    last_ws = (EVENT_BASE_US // 1_000_000
               + (run.spec["warmup_s"] + run.seconds - 2) * WINDOW_S)
    expected = decisions_to_orders(
        decide(spark.read.parquet(src)).filter(F.col("window_start_s") <= last_ws),
        market_prices_df(spark),
    )
    want = {r[0] for r in expected.select("client_order_id").collect()}
    got_df = spark.read.parquet(os.path.join(sink_dir, "orders"))
    got = [r[0] for r in got_df.select("client_order_id").collect()]
    run.attempted += len(want)
    missing, extra = want - set(got), set(got) - want
    dups = len(got) - len(set(got))
    if missing or extra or dups:
        run.fail(len(missing) + len(extra) + dups,
                 f"orders: {len(missing)} missing, {len(extra)} extra, {dups} duplicated")
    events = outbox_event_router(orders_to_outbox(got_df)).agg(
        F.count(F.lit(1)), F.count_distinct("key"), F.count_distinct("header_event_id")
    ).first()
    run.attempted += 1
    if not (events[0] == events[1] == events[2] == len(set(got))):
        run.fail(1, f"outbox events {tuple(events)} != one per order ({len(set(got))})")


# ---------------------------------------------------------------------------
# Batch workloads
# ---------------------------------------------------------------------------
def _hash_rows(cols, rows) -> str:
    from tests.oracle_utils import _norm_rows

    return hashlib.sha256(repr(_norm_rows(list(cols), rows)).encode()).hexdigest()


def _oracle_hashes(run: Run, data_dir: str, names) -> dict[str, str]:
    """DuckDB oracle result hash per query, on the run's own inputs."""
    from tests.oracle_utils import duckdb_con

    from futures_eos_cdc_spark.plans import ORACLES
    from futures_eos_cdc_spark.plans.dataprep import oracle_overrides_for_sf

    oracles = {**ORACLES, **oracle_overrides_for_sf(data_dir)}
    con = duckdb_con(data_dir)
    con.execute(f"SET threads TO {run.cpus}")
    out = {}
    try:
        for name in names:
            res = con.execute(oracles[name])
            out[name] = _hash_rows([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()
    return out


def run_batch(run: Run) -> None:
    from futures_eos_cdc_spark.plans import QUERIES
    from futures_eos_cdc_spark.sources.scale_synth import ensure_scaled_dir

    queries = []  # (name, owning module, input dir)
    input_rows = 0
    for i, group in enumerate(run.spec["inputs"]):
        base = os.path.join(run.dir, f"data{i}")
        rows = datagen.write_tables(base, run.seed, group["sf"], group["docs_sf"])
        data_dir = base
        if group["factor"] > 1:
            t = time.perf_counter()
            data_dir = ensure_scaled_dir(
                base, out_dir=os.path.join(run.dir, f"scaled{i}"), factor=group["factor"])
            run.layer["sources.scale_synth_s"] = time.perf_counter() - t
            input_rows += rows["documents"] * group["factor"]
        else:
            input_rows += sum(rows.values())
        queries += [(name, mod, data_dir) for name, mod in group["queries"]]
    run.mark("inputs")
    run.start_session()
    spark = run.spark

    def one(name: str, data_dir: str, tag: str,
            collect: bool) -> tuple[float, float, str | None]:
        run.describe(f"{name}/{tag}")
        t0 = time.perf_counter()
        df = QUERIES[name](spark, data_dir)
        t1 = time.perf_counter()
        digest = None
        if collect:
            digest = _hash_rows(df.columns, [tuple(r) for r in df.collect()])
        else:
            df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t1, digest

    window0 = time.perf_counter()
    run.e2e["setup_s"] = window0 - run.t0
    cold: dict[str, tuple[float, float]] = {}
    digests: dict[str, str] = {}
    for name, _mod, data_dir in queries:
        run.attempted += 1
        try:
            b, e, digests[name] = one(name, data_dir, "cold", collect=True)
        except Exception as exc:  # noqa: BLE001 - one broken query is a failure
            run.fail(1, f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            continue
        cold[name] = (b, e)
    cold_pass = time.perf_counter() - window0
    run.mark("cold pass")
    ok = [(name, data_dir) for name, _mod, data_dir in queries if name in cold]
    t = time.perf_counter()
    while time.perf_counter() - t < run.spec["warmup_s"]:
        for name, data_dir in ok:
            one(name, data_dir, "warm-up", collect=False)
    run.mark("warm-up")
    warm: dict[str, list[tuple[float, float]]] = {name: [] for name, _ in ok}
    passes = []
    warm0 = time.perf_counter()
    while len(passes) < MIN_WARM_PASSES or time.perf_counter() - warm0 < run.seconds:
        t = time.perf_counter()
        for name, data_dir in ok:
            warm[name].append(one(name, data_dir, f"warm{len(passes)}", collect=False)[:2])
        passes.append(time.perf_counter() - t)
    run.layer["session.peak_rss_mb"] = peak_rss_mb(run.jvm_pid)
    run.samples.update({"passes": passes, "warm": warm, "cold": cold})
    # Each query's median call, then their geometric mean: every query
    # weighs the same, however long its calls are.
    per_query = [statistics.median(b + e for b, e in v) for v in warm.values()]
    pass_s = statistics.median(passes)
    run.e2e.update({
        "latency_s": statistics.geometric_mean(per_query),
        "throughput_rps": input_rows / pass_s,
        "pass_s": pass_s,
        "cold_pass_s": cold_pass,
    })
    run.notes.append(
        f"warm passes={len(passes)} ({', '.join(f'{p:.2f}' for p in passes)} s); "
        f"latency base={len(per_query)} queries, median call each "
        f"({', '.join(f'{n} {q:.3f}' for n, q in zip(warm, per_query))} s); "
        f"throughput base={input_rows} input rows per pass"
    )
    run.mark("warm passes")
    run.stop()
    # The DuckDB oracles run once the JVM has exited: outside set-up and the
    # timed window, with no Spark work competing for the cores.
    for data_dir in dict.fromkeys(d for _n, _m, d in queries):
        names = [n for n, _m, d in queries if d == data_dir and n in digests]
        oracle = _oracle_hashes(run, data_dir, names)
        for name in names:
            if digests[name] != oracle[name]:
                run.fail(1, f"{name}: result hash differs from its DuckDB oracle")
    run.mark("oracle")
    if run.trace:
        _batch_layers(run, queries, cold, warm)


def _batch_layers(run, queries, cold, warm) -> None:
    jobs = _eventlog_jobs(os.path.join(run.dir, "eventlog"))
    for name, mod, _dir in queries:
        if name not in cold or not warm[name]:
            continue
        b = statistics.median(x[0] for x in warm[name])
        e = statistics.median(x[1] for x in warm[name])
        j = jobs.get(f"{run.workload}/{name}/warm0", {})
        key = f"{mod}.{name}"
        run.layer.update({
            f"{key}.build_ms": b * 1000.0,
            f"{key}.exec_ms": e * 1000.0,
            f"{key}.cold_minus_warm_ms": (sum(cold[name]) - b - e) * 1000.0,
            f"{key}.jobs": j.get("jobs", 0),
            f"{key}.shuffle_write_mb": j.get("shuffle_write", 0) / 1e6,
            f"{key}.spill_mb": j.get("spill", 0) / 1e6,
        })


def _eventlog_jobs(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job description: job count, shuffle bytes written, bytes spilled.

    Reads the uncompressed Spark event log with stdlib json; stages are
    attributed to the description of the job that submitted them."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    paths = []
    for f in files:
        paths += sorted(glob.glob(os.path.join(f, "events_*"))) if os.path.isdir(f) else [f]
    stage_desc: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description", "")
                    agg = out.setdefault(desc, {"jobs": 0, "shuffle_write": 0, "spill": 0})
                    agg["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    desc = stage_desc.get(info["Stage ID"])
                    if desc is None:
                        continue
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name", "")
                        if name == "internal.metrics.shuffle.write.bytesWritten":
                            out[desc]["shuffle_write"] += int(acc.get("Value", 0))
                        elif name in ("internal.metrics.diskBytesSpilled",
                                      "internal.metrics.memoryBytesSpilled"):
                            out[desc]["spill"] += int(acc.get("Value", 0))
    return out


# ---------------------------------------------------------------------------
def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="futures_eos_cdc_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=min(4, os.cpu_count() or 4),
                    help="local[N] task slots (default: min(4, cores))")
    ap.add_argument("--out", help="also write every metric and note to this "
                    "JSON file (end-to-end and per-layer, in either mode)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import futures_eos_cdc_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}",
              file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.cpus)
    try:
        if run.spec["kind"] == "eos":
            run_eos(run)
        else:
            run_batch(run)
    except Exception:  # noqa: BLE001 - a crashed run is reported, not hidden
        traceback.print_exc()
        print("perfbench: run failed before its metrics were complete",
              file=sys.stderr)
        return 1
    finally:
        run.stop()
        shutil.rmtree(run.dir, ignore_errors=True)
    run.mark("stop")
    last = run.t0
    phases = []
    for phase, t in run.marks:
        phases.append(f"{phase} {t - last:.1f}")
        last = t
    run.notes.append("phase seconds: " + ", ".join(phases))

    names = PER_LAYER if run.trace else END_TO_END
    values = run.layer if run.trace else run.e2e
    metrics = {}
    for name, unit in names.items():
        v = float(values.get(name, 0.0))
        metrics[name] = {"value": v, "unit": unit}
        print(f"{name} {v:.6g} {unit}")
    for note in run.notes:
        print(f"# {note}")
    attempted = max(1, run.attempted)
    print(f"# failed_frac {run.failed / attempted:.6g} ({run.failed}/{attempted} "
          "checked outputs)")
    correct = run.failed == 0
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({
                "workload": run.workload, "seed": run.seed,
                "seconds": run.seconds, "trace": run.trace, "cpus": run.cpus,
                "correct": correct, "attempted": attempted, "failed": run.failed,
                "end_to_end": run.e2e, "per_layer": run.layer, "notes": run.notes,
                "samples": run.samples,
            }, fh, indent=1, sort_keys=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
