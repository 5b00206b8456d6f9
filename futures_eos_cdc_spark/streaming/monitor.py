"""Operational monitoring for streaming queries: the reference's eos-monitor
loop as an engine component.

The reference watches its pipeline from the outside — consumer-lag /
throughput / duplicate probes in a monitor pod (deploy/eos-monitor.yaml:29-44,
scripts/verify-eos.sh:100-112). Spark exposes the same signals in-process
through ``StreamingQueryListener`` progress events; this module records them
and answers the reference's operational questions (is it keeping up? how many
rows per trigger? is state growing without bound?) without any external
infrastructure.

At scale this is the hook where progress rows would ship to a metrics sink
(one listener per session, negligible overhead — events arrive on the driver
already); locally the recorder keeps them in memory for assertions.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from ..memo import counters as memo_counters


# ---------------------------------------------------------------------------
# Named operator counters: batch operators (e.g. embedding_near_dup's
# bucket-cap skip counter) register their Spark accumulators here so
# recall-loss and similar operational signals are observable through the
# SAME monitoring surface as streaming progress — not only by callers who
# know about a DataFrame attribute (which any .filter() would lose).
# ---------------------------------------------------------------------------
_OPERATOR_COUNTERS: dict = {}
_OP_READ_FAILURES: dict[str, int] = {}
_OP_LOCK = threading.Lock()


def peek(df: DataFrame, name: str, observation=None) -> DataFrame:
    """S9 observability tap: pass-through row observation, the engine's
    mapping of the reference's ``.peek { log decision }`` / ``.peek { log
    signal }`` (SignalTopology.kt:77-80,101-109).

    Kafka Streams peeks by running a side-effect per record — per-row
    callbacks are exactly the slow path on Spark. The idiomatic equivalent
    is ``df.observe``: metric expressions evaluated INSIDE the existing
    plan (no extra action, no caching, no Python round-trip). Batch callers
    pass a ``pyspark.sql.Observation`` and read ``observation.get`` after
    the action; streaming callers pass nothing and read the named metrics
    from every ``StreamingQueryProgress.observedMetrics[name]`` — the same
    per-trigger cadence the reference's log tap had.
    """
    rows = F.count(F.lit(1)).alias("peek_rows")
    if observation is not None:
        return df.observe(observation, rows)
    return df.observe(name, rows)


def console_peek_writer(stream_df: DataFrame, num_rows: int = 20):
    """Dev console sink for a stream (S9's interactive form): truncated,
    bounded row dump per trigger. Debug only — the console sink collects
    rows to the driver; production taps use ``peek`` metrics instead."""
    return (
        stream_df.writeStream.format("console")
        .option("numRows", str(num_rows))
        .option("truncate", "true")
    )


def register_operator_counter(name: str, accumulator) -> None:
    """Expose a named Spark accumulator to monitoring; the latest
    registration per name wins (each operator invocation starts fresh)."""
    with _OP_LOCK:
        _OPERATOR_COUNTERS[name] = accumulator


def operator_counters() -> dict[str, int]:
    """Current value of every LIVE registered operator counter (read after
    an action — accumulators only populate when tasks run).

    An accumulator belongs to the SparkContext that created it: after that
    context stops (common across test sessions / app restarts), reading
    ``.value`` raises from inside the monitoring path and the registry
    would otherwise pin dead entries forever. But a SINGLE failed read
    must not evict: a transient py4j hiccup on a live accumulator would
    silence the recall-loss alarm operators rely on permanently. Eviction
    therefore takes 3 CONSECUTIVE failed reads (a dead context fails every
    read, so stale entries still clear within three monitoring polls; a
    transient error resets on the next successful read). Monitoring itself
    never throws. The session memo's per-namespace ``memo.<ns>.hits`` and
    ``memo.<ns>.misses`` counts (memo.py) are merged in.
    """
    with _OP_LOCK:
        out, dead = memo_counters(), []
        for k, v in _OPERATOR_COUNTERS.items():
            try:
                out[k] = v.value
                _OP_READ_FAILURES.pop(k, None)
            except Exception:
                n = _OP_READ_FAILURES.get(k, 0) + 1
                _OP_READ_FAILURES[k] = n
                if n >= 3:
                    dead.append(k)
        for k in dead:
            del _OPERATOR_COUNTERS[k]
            _OP_READ_FAILURES.pop(k, None)
        return out


# Per-trigger time breakdown kept by ProgressRecorder: its column name and
# the ``durationMs`` phases summed into it (source offset + batch resolution
# count as one "get batch" phase).
DURATION_PHASES = (
    ("add_batch_ms", ("addBatch",)),
    ("get_batch_ms", ("latestOffset", "getBatch")),
    ("query_planning_ms", ("queryPlanning",)),
    ("wal_commit_ms", ("walCommit",)),
    ("trigger_ms", ("triggerExecution",)),
)
TIMING_COLUMNS = tuple(c for c, _ in DURATION_PHASES) + ("state_commit_ms",)


class ProgressRecorder(StreamingQueryListener):
    """Records per-trigger progress for all queries on the session.

    Captured per micro-batch: query name, batch id, input row count,
    processed rows/sec, event-time watermark, and total state rows across
    stateful operators — the fields the reference's monitor derives from
    consumer groups and topic inspection — plus where the trigger's time
    went: the ``DURATION_PHASES`` breakdown and the state operators' summed
    ``commitTimeMs``.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: list[dict] = []

    # StreamingQueryListener interface -------------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ops = p.stateOperators or []
        duration = p.durationMs or {}
        row = {
            "name": p.name,
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "rows_per_sec": p.processedRowsPerSecond,
            "watermark": (p.eventTime or {}).get("watermark"),
            "state_rows": sum((op.numRowsTotal or 0) for op in ops),
            "state_commit_ms": sum((op.commitTimeMs or 0) for op in ops),
        }
        for col, phases in DURATION_PHASES:
            row[col] = sum(duration.get(k, 0) for k in phases)
        with self._lock:
            self.progress.append(row)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # Reporting -------------------------------------------------------------
    def report(self, spark: SparkSession) -> DataFrame:
        """Progress rows as a DataFrame (queryable like any engine table)."""
        with self._lock:
            rows = list(self.progress)
        return spark.createDataFrame(
            rows or [],
            "name string, batch_id long, num_input_rows long, "
            "rows_per_sec double, watermark string, state_rows long, "
            + ", ".join(f"{c} long" for c in TIMING_COLUMNS),
        )

    def totals(self) -> dict:
        """The monitor's headline numbers: total input rows, peak state rows,
        max processed-rows/sec over all recorded triggers, and the time each
        ``TIMING_COLUMNS`` phase took summed over them."""
        with self._lock:
            rows = list(self.progress)
        return {
            "n_triggers": len(rows),
            "total_input_rows": sum(r["num_input_rows"] or 0 for r in rows),
            "peak_state_rows": max((r["state_rows"] for r in rows), default=0),
            "peak_rows_per_sec": max(
                (r["rows_per_sec"] or 0.0 for r in rows), default=0.0
            ),
            "total_ms": {c: sum(r[c] for r in rows) for c in TIMING_COLUMNS},
            # batch-operator signals (recall-loss counters etc.) ride along
            "operator_counters": operator_counters(),
        }


def attach_progress_recorder(spark: SparkSession) -> ProgressRecorder:
    """Attach a fresh recorder to the session's listener bus; returns it.
    Detach with ``spark.streams.removeListener(recorder)`` when done."""
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    return rec
