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

from pyspark.sql import Column, DataFrame, Window
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
# A1: epoch-aligned tumbling window bucket
# ---------------------------------------------------------------------------
def window_start_s_expr(window_seconds: int = WINDOW_SECONDS) -> Column:
    """Tumbling-window start (epoch seconds, BIGINT) from epoch-micros ts_us.

    Integer `div` — NEVER double division: epoch-micros (~1.7e15) sits at the
    edge of a double's 53-bit exact-integer range, so float math could
    mis-bucket. Epoch-aligned exactly like Kafka Streams' TimeWindows
    (SignalTopology.kt:52).
    """
    w_us = window_seconds * 1_000_000
    return F.expr(f"(ts_us div {w_us}) * {window_seconds}").cast("long")


def _dec_avg(sum_col: str, cnt_col: str) -> Column:
    return F.col(sum_col).cast("double") / F.col(cnt_col)


# ---------------------------------------------------------------------------
# The full decision pipeline (batch form, window-function based)
# ---------------------------------------------------------------------------
def _decide_sql(view: str, window_seconds: int, round_dp: int) -> str:
    """The whole decide() pipeline as ONE SQL statement (see decide()'s
    docstring for the operator semantics and the per-clause A*/D* mapping).

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
), act AS (
  SELECT *,
    CAST(aggregate(recent5, CAST('0' AS {dec}),
                   (acc, x) -> CAST(acc + CAST(x.qty AS {dec}) AS {dec}))
         AS DOUBLE) / size(recent5) AS qty_recent,
    CASE WHEN balance > {STRONG_BUY_MIN} THEN 'STRONG_BUY'
         WHEN balance > {BUY_MIN} THEN 'BUY'
         WHEN balance < {STRONG_SELL_MAX} THEN 'STRONG_SELL'
         WHEN balance < {SELL_MAX} THEN 'SELL'
         ELSE 'HOLD' END AS action
  FROM agg
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
    sections below document the operator semantics clause by clause.
    """
    from ..sqlutil import sql_over_views

    return sql_over_views(
        lambda v: _decide_sql(v["sig"], window_seconds, round_dp), sig=signals
    )


def _decide_column_api(
    signals: DataFrame,
    window_seconds: int = WINDOW_SECONDS,
    round_dp: int = 6,
) -> DataFrame:
    """The original Column-API construction of decide(), kept as the
    readable clause-by-clause reference AND pinned equal to the SQL path by
    tests/test_relational_extra.py — if the two ever diverge, the pytest
    names the clause."""
    b = signals.withColumn("window_start_s", window_start_s_expr(window_seconds))

    # A2: rank within (symbol, window, timeframe) by recency; rn<=10 is the buffer
    w_tf = Window.partitionBy("symbol", "window_start_s", "timeframe").orderBy(
        F.desc("ts_us"), F.desc("signal_id")
    )
    r = b.withColumn("rn", F.row_number().over(w_tf))

    in_buf = F.col("rn") <= BUFFER_KEEP
    price_dec = F.col("price").cast(DEC)
    # price*price is a double multiply (bit-identical on any engine), cast
    # AFTER the multiply so decimal precision never truncates differently.
    price2_dec = (F.col("price") * F.col("price")).cast(DEC)

    # Per-timeframe aggregates: A3 (avg over buffer), A4 (untrimmed balance),
    # A6 (capped count), A9 majority inputs, A10 (population stddev over
    # buffer), and the ≤5-element recency buffer feeding D5. Grouping keys are
    # a superset of the window-partition keys, so Catalyst reuses the exchange
    # — the whole per-timeframe stage costs ONE shuffle.
    is_buy = F.col("side") == "BUY"
    tf_agg = r.groupBy("symbol", "window_start_s", "timeframe").agg(
        F.sum(F.when(is_buy, 1).otherwise(-1)).alias("balance_tf"),
        F.count(F.lit(1)).alias("cnt_all"),
        F.count(F.when(in_buf, 1)).alias("cnt_buf"),
        F.sum(F.when(in_buf, price_dec)).alias("sum_p"),
        F.sum(F.when(in_buf, price2_dec)).alias("sum_p2"),
        # A9 majority side inputs: buffered BUY vs SELL counts
        F.count(F.when(in_buf & is_buy, 1)).alias("buf_buy"),
        F.count(F.when(in_buf & ~is_buy, 1)).alias("buf_sell"),
        # D5 feed: the 5 most-recent buffered (ts, id, qty) — bounded (≤10
        # collected, ≤5 kept), NOT an unbounded collect_list
        F.slice(
            F.reverse(
                F.array_sort(
                    F.collect_list(
                        F.when(in_buf, F.struct("ts_us", "signal_id", "qty"))
                    )
                )
            ),
            1,
            TOP_RECENT,
        ).alias("recent_tf"),
    )
    mean_p = _dec_avg("sum_p", "cnt_buf")
    mean_p2 = _dec_avg("sum_p2", "cnt_buf")
    tf_agg = tf_agg.withColumn("avg_price_tf", mean_p).withColumn(
        # A10: population stddev via the exact-sum identity; <2 prices → 0.0
        "vol_tf",
        F.when(F.col("cnt_buf") < 2, F.lit(0.0)).otherwise(
            F.sqrt(F.greatest(mean_p2 - mean_p * mean_p, F.lit(0.0)))
        ),
    ).withColumn(
        # A9: majority side over the buffer; tie → lexicographic max ("SELL")
        # per SURVEY.md §7.4.2 — a plain CASE, no extra aggregation needed
        "maj_side",
        F.when(F.col("buf_buy") > F.col("buf_sell"), "BUY").otherwise("SELL"),
    )

    # Rollup to (symbol, window): A5, A6, A8, A9, P5 HAVING, D5 — one more
    # shuffle on the 2-key prefix; no joins anywhere in the pipeline.
    recent5 = F.slice(
        F.reverse(F.array_sort(F.flatten(F.collect_list("recent_tf")))), 1, TOP_RECENT
    )
    qty_recent = F.aggregate(
        recent5,
        F.lit("0").cast(DEC),
        lambda acc, x: (acc + x.getField("qty").cast(DEC)).cast(DEC),
    ).cast("double") / F.size(recent5)
    agg = (
        tf_agg.groupBy("symbol", "window_start_s")
        .agg(
            F.count(F.lit(1)).alias("n_timeframes"),
            F.sum("balance_tf").alias("balance"),
            F.sum(F.least(F.col("cnt_all"), F.lit(BUFFER_KEEP))).alias("n_signals"),
            (
                F.sum(F.col("avg_price_tf").cast(DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_price"),  # A8 two-level mean
            (
                F.sum(F.col("vol_tf").cast(DEC)).cast("double") / F.count(F.lit(1))
            ).alias("avg_volatility"),
            # A9: all timeframes' majorities agree ⇔ min == max (maj_side is
            # never null) — algebraic, so no distinct-agg Expand/exchange
            F.when(F.min("maj_side") == F.max("maj_side"), F.lit(1.0))
            .otherwise(F.lit(0.5))
            .alias("alignment"),
            qty_recent.alias("qty_recent"),  # D5 mean qty of 5 most-recent
        )
        .filter(F.col("n_timeframes") >= 2)  # P5
    )

    # D1: action thresholds
    bal = F.col("balance")
    action = (
        F.when(bal > STRONG_BUY_MIN, "STRONG_BUY")
        .when(bal > BUY_MIN, "BUY")
        .when(bal < STRONG_SELL_MAX, "STRONG_SELL")
        .when(bal < SELL_MAX, "SELL")
        .otherwise("HOLD")
    )
    agg = agg.withColumn("action", action)

    # D2: price adjustment
    mult = (
        F.when(F.col("action") == "STRONG_BUY", PRICE_MULT["STRONG_BUY"])
        .when(F.col("action") == "BUY", PRICE_MULT["BUY"])
        .when(F.col("action") == "SELL", PRICE_MULT["SELL"])
        .when(F.col("action") == "STRONG_SELL", PRICE_MULT["STRONG_SELL"])
        .otherwise(F.lit(1.0))
    )

    # D3: confidence = min(1, align*0.4 + min(1,|bal|/10)*0.4 + max(0.3, 1-vol/100)*0.2)
    confidence = F.least(
        F.lit(1.0),
        F.col("alignment") * 0.4
        + F.least(F.lit(1.0), F.abs(bal) / 10.0) * 0.4
        + F.greatest(F.lit(0.3), F.lit(1.0) - F.col("avg_volatility") / 100.0) * 0.2,
    )

    # D4: reason
    reason = (
        F.when(
            F.col("action").startswith("STRONG"),
            F.when(F.col("alignment") > 0.8, "ALIGNED_SIGNALS").otherwise("MOMENTUM_SHIFT"),
        )
        .when(F.col("action").isin("BUY", "SELL"), "ALIGNED_SIGNALS")
        .otherwise(  # HOLD
            F.when(F.col("alignment") < 0.6, "DIVERGENT_SIGNALS").otherwise(
                "INSUFFICIENT_DATA"
            )
        )
    )

    is_hold = F.col("action") == "HOLD"
    return agg.select(
        "symbol",
        F.col("window_start_s").cast("long").alias("window_start_s"),
        F.col("n_timeframes").cast("long").alias("n_timeframes"),
        F.col("n_signals").cast("long").alias("n_signals"),
        F.col("balance").cast("long").alias("balance"),
        F.round("avg_price", round_dp).alias("avg_price"),
        F.col("alignment"),
        F.round("avg_volatility", round_dp).alias("avg_volatility"),
        "action",
        F.when(is_hold, F.lit(0.5))
        .otherwise(F.round(confidence, round_dp))
        .alias("confidence"),
        F.round(F.col("avg_price") * mult, round_dp).alias("suggested_price"),
        # D5: truncate to 4dp (DecisionMaker.kt:125); HOLD → 0.0. Deterministic
        # mode: the uniform(0.9,1.1) factor is fixed to 1.0 (SURVEY.md §7.4.3).
        F.when(is_hold, F.lit(0.0))
        .otherwise(F.floor(F.col("qty_recent") * 10000) / 10000.0)
        .alias("suggested_qty"),
        reason.alias("reason"),
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
