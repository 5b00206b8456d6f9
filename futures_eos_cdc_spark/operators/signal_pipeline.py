"""The reference's core "query": signals → windowed aggregation → decisions.

Re-expresses, Spark-first, the whole signal-processor topology
(reference: apps/signal-processor/.../topology/SignalTopology.kt:27-84):

    3 Kafka sources → parse JSON (drop malformed) → merge → key by symbol
    → 5-minute tumbling window aggregate (SignalAggregator)
    → filter ≥2 distinct timeframes → DecisionMaker → decisions

Operator-by-operator mapping (SURVEY.md §2.3/§2.4):

- A1 windowed groupBy       → 5-min epoch-aligned bucket on event time ``ts``
- A2 per-timeframe last-10  → row_number() over (symbol, window, timeframe
                              ORDER BY ts DESC, signal_id DESC) <= 10
                              (arrival order re-specified to ts order —
                              deterministic; SURVEY.md §7.4.1)
- A3 avg price / timeframe  → avg over the rn<=10 subset (decimal-exact sum)
- A4 buy/sell balance       → sum(side=BUY ? +1 : -1) over ALL window rows
                              (untrimmed — SignalAggregator.kt:30-34 never
                              evicts; deliberately preserved, §7.4.6)
- A5 net balance            → sum of per-timeframe balances
- A6 trimmed signal count   → sum(min(count_tf, 10))
- A8 avg of per-tf avgs     → two-level mean (NOT the global mean price)
- A9 alignment score        → per-tf majority side (tie → lexicographic max,
                              §7.4.2); all agree → 1.0 else 0.5
- A10 price volatility      → population stddev of the rn<=10 prices,
                              0.0 when <2 prices (SignalAggregator.kt:64-76)
- D1-D5 decision exprs      → CASE/threshold expressions (DecisionMaker.kt)
- P5 HAVING                 → countDistinct(timeframe) >= 2
                              (SignalAggregator.kt:38 — ≥2 distinct
                              timeframes, not ≥2 signals)

Determinism for oracle checking: float summation order varies with
partitioning, so every sum over doubles is computed on ``decimal(38,10)``
casts (exact arithmetic — identical results on any engine), variance uses the
sum/sum-of-squares identity on those exact sums, and emitted timestamps are
epoch **seconds** (BIGINT), never raw timestamps (timezone-proof). The same
trick is mirrored in the DuckDB oracle SQL (queries/oracles.py).

Scale notes (100 TB): the plan is two hash-exchanges — one on
(symbol, window_start, timeframe) for the ranking + per-timeframe aggregates,
one on (symbol, window_start) for the final rollup. No collect, no Python
UDFs, all whole-stage-codegen expressions. Cardinality after the first
aggregate is bounded by |symbols| x |windows| x 3 — tiny relative to input —
so the final joins are AQE-broadcastable. Skewed symbols are handled by AQE
skew-join; the ranking window is bounded per group only by window span.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import SIGNAL_WIRE_SCHEMA

DEC = "decimal(38,10)"

# D1 thresholds (DecisionMaker.kt:49-89)
STRONG_BUY_MIN = 5  # balance >  5 → STRONG_BUY
BUY_MIN = 2  # balance >  2 → BUY
SELL_MAX = -2  # balance < -2 → SELL
STRONG_SELL_MAX = -5  # balance < -5 → STRONG_SELL

# D2 price adjustment multipliers (DecisionMaker.kt:58,63,73,78,87)
PRICE_MULT = {
    "STRONG_BUY": 0.998,
    "BUY": 0.999,
    "HOLD": 1.0,
    "SELL": 1.001,
    "STRONG_SELL": 1.002,
}

BUFFER_KEEP = 10  # A2 last-10 (SignalAggregator.kt:19-21)
TOP_RECENT = 5  # D5 five most-recent (DecisionMaker.kt:119)
WINDOW_SECONDS = 300  # T1 5-minute tumbling, zero grace (SignalTopology.kt:52)


# ---------------------------------------------------------------------------
# P1/P2: lenient JSON parse + enrichment
# ---------------------------------------------------------------------------
def parse_signals(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse JSON signal lines, silently dropping malformed records.

    Mirrors flatMapValues{parse or []} (SignalTopology.kt:93-100) and the
    lenient Jackson config (JsonMapper.kt:17-22): ``from_json`` returns a
    null struct on corrupt input and ignores unknown JSON fields, so
    null-filtering reproduces drop-on-error exactly.
    """
    parsed = raw.withColumn("s", F.from_json(F.col(value_col), SIGNAL_WIRE_SCHEMA))
    return (
        parsed.filter(F.col("s").isNotNull() & F.col("s.symbol").isNotNull())
        .select("s.*")
        .withColumn("processed_at", F.current_timestamp())  # P2
    )


def with_strength(signals: DataFrame) -> DataFrame:
    """P10: timeframe → strength CASE (Signal.kt:23-29,36-41)."""
    tf = F.col("timeframe")
    return signals.withColumn(
        "strength",
        F.when(tf == "1m", "WEAK")
        .when(tf == "5m", "MEDIUM")
        .when(tf == "15m", "STRONG")
        .otherwise("UNKNOWN"),
    ).withColumn(
        "strength_weight",
        F.when(tf == "1m", 1).when(tf == "5m", 2).when(tf == "15m", 3).otherwise(0),
    )


# ---------------------------------------------------------------------------
# Signal derivation from the driver's `events` fixture (test adapter)
# ---------------------------------------------------------------------------
SYMBOLS = ("BTCUSDT", "ETHUSDT", "SOLUSDT", "XRPUSDT", "NAS100")
BUY_EVENT_TYPES = ("purchase", "signup", "click")


def signals_from_events(events: DataFrame) -> DataFrame:
    """Deterministically reinterpret the `events` fixture as a signal stream.

    Keeps ``event_id`` as ``signal_id`` — the unique total-order tie-breaker
    that makes "last N by ts" deterministic (SURVEY.md §7.4.1). The identical
    derivation exists as SQL in plans/flagship.py so the DuckDB oracle sees
    the same stream. ``ts`` arrives as epoch-nanos LongType (see
    sources.tables.load_table) and is truncated to epoch-micros ``ts_us`` —
    the finest precision DuckDB's parquet reader preserves.
    """
    buy_types = ", ".join(f"'{t}'" for t in BUY_EVENT_TYPES)
    return events.selectExpr(
        "event_id AS signal_id",
        f"""CASE WHEN user_id % 5 = 0 THEN '{SYMBOLS[0]}'
                 WHEN user_id % 5 = 1 THEN '{SYMBOLS[1]}'
                 WHEN user_id % 5 = 2 THEN '{SYMBOLS[2]}'
                 WHEN user_id % 5 = 3 THEN '{SYMBOLS[3]}'
                 ELSE '{SYMBOLS[4]}' END AS symbol""",
        f"CASE WHEN event_type IN ({buy_types}) THEN 'BUY' ELSE 'SELL' END AS side",
        "((event_id % 50) / 100.0d + 0.01d) AS qty",
        "value AS price",
        """CASE WHEN event_id % 3 = 0 THEN '1m'
                WHEN event_id % 3 = 1 THEN '5m'
                ELSE '15m' END AS timeframe""",
        "ts div 1000 AS ts_us",
    )


# ---------------------------------------------------------------------------
# The full decision pipeline (batch form, window-function based)
# ---------------------------------------------------------------------------
def decision_tail_sql(rel: str, round_dp: int) -> str:
    """The decision math (D1-D5, confidence, price, qty, reason and the
    output casts) as the ``act`` CTE plus the final SELECT: the one
    rendering that batch :func:`decide` and the streaming decides
    (streaming/pipeline.py) both end with. Follows a ``WITH ...,`` prefix.

    ``rel`` is a relation with one row per (symbol, window) that passed P5
    and the columns symbol, window_start_s, n_timeframes, balance,
    n_signals, avg_price, avg_volatility, alignment and recent5 (an array
    of the five most recent buffered signals, structs with a ``qty``
    field)."""
    dec = DEC.upper()
    return f"""act AS (
  SELECT *,
    CAST(aggregate(recent5, CAST('0' AS {dec}),
                   (acc, x) -> CAST(acc + CAST(x.qty AS {dec}) AS {dec}))
         AS DOUBLE) / size(recent5) AS qty_recent,
    CASE WHEN balance > {STRONG_BUY_MIN} THEN 'STRONG_BUY'
         WHEN balance > {BUY_MIN} THEN 'BUY'
         WHEN balance < {STRONG_SELL_MAX} THEN 'STRONG_SELL'
         WHEN balance < {SELL_MAX} THEN 'SELL'
         ELSE 'HOLD' END AS action
  FROM {rel}
)
SELECT symbol,
  CAST(window_start_s AS BIGINT) AS window_start_s,
  CAST(n_timeframes AS BIGINT) AS n_timeframes,
  CAST(n_signals AS BIGINT) AS n_signals,
  CAST(balance AS BIGINT) AS balance,
  round(avg_price, {round_dp}) AS avg_price,
  alignment,
  round(avg_volatility, {round_dp}) AS avg_volatility,
  action,
  CASE WHEN action = 'HOLD' THEN 0.5d ELSE
    round(least(1.0d,
                alignment * 0.4d
                + least(1.0d, abs(balance) / 10.0d) * 0.4d
                + greatest(0.3d, 1.0d - avg_volatility / 100.0d) * 0.2d),
          {round_dp}) END AS confidence,
  round(avg_price * CASE WHEN action = 'STRONG_BUY' THEN {PRICE_MULT["STRONG_BUY"]}d
                         WHEN action = 'BUY' THEN {PRICE_MULT["BUY"]}d
                         WHEN action = 'SELL' THEN {PRICE_MULT["SELL"]}d
                         WHEN action = 'STRONG_SELL' THEN {PRICE_MULT["STRONG_SELL"]}d
                         ELSE 1.0d END,
        {round_dp}) AS suggested_price,
  CASE WHEN action = 'HOLD' THEN 0.0d
       ELSE floor(qty_recent * 10000) / 10000.0d END AS suggested_qty,
  CASE WHEN startswith(action, 'STRONG') THEN
         CASE WHEN alignment > 0.8d THEN 'ALIGNED_SIGNALS' ELSE 'MOMENTUM_SHIFT' END
       WHEN action IN ('BUY', 'SELL') THEN 'ALIGNED_SIGNALS'
       ELSE CASE WHEN alignment < 0.6d THEN 'DIVERGENT_SIGNALS'
                 ELSE 'INSUFFICIENT_DATA' END END AS reason
FROM act
"""


def _decide_sql(view: str, window_seconds: int, round_dp: int) -> str:
    """The whole decide() pipeline as ONE SQL statement: A1-A10 and P5 over
    window functions and two aggregates, then :func:`decision_tail_sql`
    (see decide()'s docstring for the operator semantics).

    A1 buckets with integer ``div``, never double division: epoch-micros
    (~1.7e15) sits at the edge of a double's 53-bit exact-integer range, so
    float math could mis-bucket. Windows are epoch-aligned like Kafka
    Streams' TimeWindows (SignalTopology.kt:52).

    Why SQL and not the Column API: the logical plan is identical either
    way (one parse, same Catalyst tree), but building it expression-object
    by expression-object cost ~2,000 py4j round trips ≈ 0.4-0.5 s of
    driver-side latency per construction — measured as the dominant cost of
    the decision-family queries at sf0.1. The statement is a structured
    query (CTEs, window, two aggregates), NOT an unrolled constant fold, so
    the no-giant-expression codegen caveat (BENCH_NOTES r5 §1) does not
    apply."""
    w_us = window_seconds * 1_000_000
    dec = DEC.upper()
    return f"""
WITH b AS (
  SELECT *, CAST((ts_us div {w_us}) * {window_seconds} AS BIGINT) AS window_start_s
  FROM {view}
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY symbol, window_start_s, timeframe
    ORDER BY ts_us DESC, signal_id DESC) AS rn
  FROM b
), tf_agg AS (
  SELECT symbol, window_start_s, timeframe,
    sum(CASE WHEN side = 'BUY' THEN 1 ELSE -1 END) AS balance_tf,
    count(1) AS cnt_all,
    count(CASE WHEN rn <= {BUFFER_KEEP} THEN 1 END) AS cnt_buf,
    sum(CASE WHEN rn <= {BUFFER_KEEP} THEN CAST(price AS {dec}) END) AS sum_p,
    sum(CASE WHEN rn <= {BUFFER_KEEP} THEN CAST(price * price AS {dec}) END) AS sum_p2,
    count(CASE WHEN rn <= {BUFFER_KEEP} AND side = 'BUY' THEN 1 END) AS buf_buy,
    count(CASE WHEN rn <= {BUFFER_KEEP} AND NOT side = 'BUY' THEN 1 END) AS buf_sell,
    slice(reverse(array_sort(collect_list(
      CASE WHEN rn <= {BUFFER_KEEP} THEN struct(ts_us, signal_id, qty) END
    ))), 1, {TOP_RECENT}) AS recent_tf
  FROM r GROUP BY symbol, window_start_s, timeframe
), tf2 AS (
  SELECT *,
    CAST(sum_p AS DOUBLE) / cnt_buf AS avg_price_tf,
    CASE WHEN cnt_buf < 2 THEN 0.0d ELSE
      sqrt(greatest(CAST(sum_p2 AS DOUBLE) / cnt_buf
                    - (CAST(sum_p AS DOUBLE) / cnt_buf) * (CAST(sum_p AS DOUBLE) / cnt_buf),
                    0.0d)) END AS vol_tf,
    CASE WHEN buf_buy > buf_sell THEN 'BUY' ELSE 'SELL' END AS maj_side
  FROM tf_agg
), agg AS (
  SELECT symbol, window_start_s,
    count(1) AS n_timeframes,
    sum(balance_tf) AS balance,
    sum(least(cnt_all, {BUFFER_KEEP})) AS n_signals,
    CAST(sum(CAST(avg_price_tf AS {dec})) AS DOUBLE) / count(1) AS avg_price,
    CAST(sum(CAST(vol_tf AS {dec})) AS DOUBLE) / count(1) AS avg_volatility,
    CASE WHEN min(maj_side) = max(maj_side) THEN 1.0d ELSE 0.5d END AS alignment,
    slice(reverse(array_sort(flatten(collect_list(recent_tf)))), 1, {TOP_RECENT}) AS recent5
  FROM tf2
  GROUP BY symbol, window_start_s
  HAVING count(1) >= 2
), {decision_tail_sql("agg", round_dp)}"""


def decide(
    signals: DataFrame,
    window_seconds: int = WINDOW_SECONDS,
    round_dp: int = 6,
) -> DataFrame:
    """signals → one decision row per (symbol, window) with >=2 timeframes.

    Input columns: signal_id, symbol, side, qty, price, timeframe, ts_us
    (epoch micros, LongType). Output: symbol, window_start_s, n_timeframes,
    n_signals, balance, avg_price, alignment, avg_volatility, action,
    confidence, suggested_price, suggested_qty, reason.

    The plan is built by ONE spark.sql parse over a temp view
    (see :func:`_decide_sql` for why); ``spark.sql`` analyzes eagerly, so
    the returned DataFrame's plan is fixed at this call — re-registering
    the view for a later decide() cannot retroactively change it. The
    module docstring maps each clause to its A*/D* operator.
    """
    from ..sqlutil import sql_over_views

    return sql_over_views(
        lambda v: _decide_sql(v["sig"], window_seconds, round_dp), sig=signals
    )


def decisions_from_events(events: DataFrame) -> DataFrame:
    """Flagship query: events fixture → signals → decisions."""
    return decide(signals_from_events(events))


# ---------------------------------------------------------------------------
# D6: full TradingDecision record construction (TradingDecision.kt:10-37)
# ---------------------------------------------------------------------------
def to_decision_records(
    decisions: DataFrame, signals: DataFrame, deterministic: bool = True
) -> DataFrame:
    """Decisions + their embedded ts-descending signal arrays (A7/D6).

    Output matches the reference's wire record: id, symbol, action,
    confidence, suggested_price, suggested_qty, signals (array of signal
    structs, most recent first), timestamp (epoch s of window end), reason.

    A7 faithfulness: the reference embeds the *flattened last-10-per-timeframe
    buffers* (SignalAggregator.kt:42-44), NOT every signal in the window — so
    the array is bounded at |timeframes| x 10 (≤30 here) per decision. We rank
    with the exact window used by decide() (ts desc, signal_id desc) and
    collect only rn <= BUFFER_KEEP: the collect_list is bounded, never a
    per-group scale hazard.

    Deterministic mode derives id from the business key (sha256) and the
    timestamp from the window (SURVEY.md §7.4.3); production mode uses
    uuid()/current_timestamp() like the reference.
    """
    # One spark.sql parse (same plan as the Column-API construction this
    # replaces — join + rank + bounded collect — at ~1/30th the py4j
    # construction cost; struct sort is lexicographic on (ts_us, ...) so
    # reverse = most-recent-first).
    from ..sqlutil import sql_over_views

    w_us = WINDOW_SECONDS * 1_000_000
    if deterministic:
        dec_id = "sha2(concat_ws('|', d.symbol, d.window_start_s), 256)"
        ts = f"CAST(d.window_start_s + {WINDOW_SECONDS} AS BIGINT)"
    else:
        dec_id = "uuid()"
        ts = "unix_timestamp(current_timestamp())"
    return sql_over_views(lambda v: f"""
WITH b AS (
  SELECT *, CAST((ts_us div {w_us}) * {WINDOW_SECONDS} AS BIGINT) AS window_start_s
  FROM {v['sig']}
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY symbol, window_start_s, timeframe
    ORDER BY ts_us DESC, signal_id DESC) AS rn
  FROM b
), sig_arrays AS (
  SELECT symbol, window_start_s,
    reverse(array_sort(collect_list(
      struct(ts_us, signal_id, side, qty, price, timeframe)))) AS signals
  FROM r WHERE rn <= {BUFFER_KEEP}
  GROUP BY symbol, window_start_s
)
SELECT {dec_id} AS id,
  d.symbol, d.action, d.confidence, d.suggested_price, d.suggested_qty,
  s.signals, {ts} AS timestamp_s, d.reason, d.window_start_s
FROM {v['dec']} d
JOIN sig_arrays s
  ON d.symbol = s.symbol AND d.window_start_s = s.window_start_s
""", sig=signals, dec=decisions)
