"""Query registry: every implemented operator as a (Spark query, DuckDB oracle) pair.

Each Spark query is a callable ``(spark, sf_dir) -> DataFrame``; each oracle
is ANSI SQL DuckDB runs over the same parquet tables (driver registers the
views). The driver compares row count + schema + order-insensitive value hash
(see __spark_entry__.py), so:

- every computed column is aliased identically on both sides;
- sums over doubles go through DECIMAL(38,10) (summation-order-proof);
- timestamps are emitted as epoch seconds BIGINT (timezone-proof);
- integer aggregates are CAST(... AS BIGINT) in DuckDB (it widens to HUGEINT);
- decimal literals that mix with doubles are CAST(... AS DOUBLE) in DuckDB.

Scale notes live on each query's docstring: the Catalyst plan each is
designed to produce at 100 TB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.signal_pipeline import DEC, decisions_from_events
from .flagship import FLAGSHIP_ORACLE_SQL

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources.tables import load_table

    return load_table(spark, sf_dir, name)


def _dsum(col, alias: str):
    """Order-independent double sum: exact decimal sum, cast back to double."""
    return F.sum(col.cast(DEC)).cast("double").alias(alias)


def _davg(col, alias: str):
    """Order-independent mean: exact decimal sum / count."""
    return (F.sum(col.cast(DEC)).cast("double") / F.count(col)).alias(alias)


def _ntz_lit(iso: str):
    """TIMESTAMP_NTZ literal — comparisons against NTZ columns are
    timezone-proof AND push down to the parquet scan."""
    return F.expr(f"TIMESTAMP_NTZ '{iso}'")


def _ntz_epoch_s(col_name: str):
    """Epoch seconds (BIGINT) from a TIMESTAMP_NTZ column, timezone-proof.

    (Plain cast-to-long is disallowed for NTZ; going through LTZ would
    reintroduce the session timezone.)
    """
    return F.expr(f"timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col_name})")


# ---------------------------------------------------------------------------
# Flagship: the reference's entire streaming query as one batch SELECT
# (SURVEY.md §2.3/§2.4/§7.5)
# ---------------------------------------------------------------------------
@query("signal_decisions", FLAGSHIP_ORACLE_SQL)
def q_signal_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → signals → 5-min windowed aggregate → decisions.

    Plan at scale: parquet scan (pruned to 5 cols) → hash exchange on
    (symbol, window, timeframe) → ranked buffer + partial aggs → exchange on
    (symbol, window) → rollup; post-agg cardinality is tiny so the final
    joins broadcast under AQE.
    """
    return decisions_from_events(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# A-family general aggregation: TPC-H Q1-style pricing summary
# ---------------------------------------------------------------------------
_SHIP_CUTOFF_S = 904694400  # 1998-09-02 UTC

Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_qty,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
    AS sum_disc_price,
  CAST(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(38,10)))
    AS VARCHAR) AS DOUBLE) AS sum_charge,
  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_qty,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_price,
  CAST(CAST(sum(CAST(l_discount AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) / count(*) AS avg_disc,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE epoch(l_shipdate) <= {_SHIP_CUTOFF_S}
GROUP BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", Q1_ORACLE)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter (pushed to parquet) → 2-key hash agg.

    At scale this is the canonical map-side-partial-agg query: Catalyst
    splits into partial + final HashAggregate around one exchange on the
    (low-cardinality) group keys; AQE coalesces the post-shuffle partitions.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    charge = disc_price * (1.0 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= _ntz_lit("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            _dsum(disc_price, "sum_disc_price"),
            _dsum(charge, "sum_charge"),
            _davg(F.col("l_quantity"), "avg_qty"),
            _davg(F.col("l_extendedprice"), "avg_price"),
            _davg(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# J-family: multi-way join + top-k (broadcast dims, deterministic tie-break)
# ---------------------------------------------------------------------------
TOP_CUSTOMERS_ORACLE = """
SELECT
  c.c_custkey,
  c.c_name,
  n.n_name AS nation,
  r.r_name AS region,
  CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS revenue,
  CAST(count(*) AS BIGINT) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey
LIMIT 10
"""


@query("top_customers_by_revenue", TOP_CUSTOMERS_ORACLE)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer ⋈ nation ⋈ region → group → top-10.

    nation/region (and customer at most SFs) are broadcast: no shuffle for
    the dim joins; one exchange for the groupBy; TakeOrderedAndProject for
    the limit. Revenue is a decimal-exact sum so the ORDER BY tie-break
    (custkey) is deterministic across engines.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            _dsum(F.col("o_totalprice"), "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# P-family scalar/JSON: extract from events.props (P14-style JSON handling)
# ---------------------------------------------------------------------------
EVENTS_JSON_ORACLE = """
SELECT
  event_type,
  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
  CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
"""


@query("events_json_extract", EVENTS_JSON_ORACLE)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_json_object over the JSON props column + aggregate.

    JSON path extraction stays JVM-side (codegen'd), no Python. At scale the
    JSON parse dominates; a real pipeline would persist extracted columns.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# J1/P11: broadcast dim lookup with default on miss
# (OrderService.kt:42-47,139-142 — constant market-price map)
# ---------------------------------------------------------------------------
MARKET_PRICE_ORACLE = """
WITH signals AS (
  SELECT
    CASE user_id % 5
      WHEN 0 THEN 'BTCUSDT' WHEN 1 THEN 'ETHUSDT' WHEN 2 THEN 'SOLUSDT'
      WHEN 3 THEN 'XRPUSDT' ELSE 'NAS100' END AS symbol
  FROM events
),
mp(symbol, price) AS (
  VALUES ('BTCUSDT', CAST(65000.0 AS DOUBLE)), ('ETHUSDT', CAST(3500.0 AS DOUBLE)),
         ('SOLUSDT', CAST(150.0 AS DOUBLE)), ('NAS100', CAST(18500.0 AS DOUBLE))
)
SELECT
  s.symbol,
  coalesce(mp.price, CAST(100.0 AS DOUBLE)) AS market_price,
  CAST(count(*) AS BIGINT) AS n
FROM signals s
LEFT JOIN mp ON s.symbol = mp.symbol
GROUP BY 1, 2
"""


@query("market_price_lookup", MARKET_PRICE_ORACLE)
def q_market_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant-map dim lookup as a broadcast left join + coalesce default.

    The dim side is ``market_prices_df``, the 4-row local relation the order
    pipeline joins — broadcast, zero shuffle for the join regardless of
    fact-side size.
    """
    from ..schemas import DEFAULT_MARKET_PRICE

    ev = _t(spark, sf_dir, "events")
    sym = F.col("user_id") % 5
    s = ev.select(
        F.when(sym == 0, "BTCUSDT")
        .when(sym == 1, "ETHUSDT")
        .when(sym == 2, "SOLUSDT")
        .when(sym == 3, "XRPUSDT")
        .otherwise("NAS100")
        .alias("symbol")
    )
    mp = market_prices_df(spark)
    return (
        s.join(F.broadcast(mp), "symbol", "left")
        .select("symbol", F.coalesce("price", F.lit(DEFAULT_MARKET_PRICE)).alias("market_price"))
        .groupBy("symbol", "market_price")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# T7-style exact dedup surface on documents
# ---------------------------------------------------------------------------
DEDUP_EXACT_ORACLE = """
SELECT
  lang,
  CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
  CAST(count(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY lang
"""


@query("dedup_exact_documents", DEDUP_EXACT_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate profile per language: distinct-text vs total counts.

    At scale, count(DISTINCT text) over long strings must dedup on a hash so
    the distinct-agg shuffle carries a 16-byte digest, not documents —
    count(DISTINCT md5(text)) is value-identical (collision odds ~n²/2^128)
    and is what we compute; the oracle keeps DISTINCT text, proving the
    equivalence. Row-level keep-first dedup is operators.dedup.exact_dedup.
    """
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count_distinct(F.md5(F.col("text"))).alias("n_unique"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Order pipeline (P7-P16) — see operators.order_pipeline
# ---------------------------------------------------------------------------
from ..operators.order_pipeline import (  # noqa: E402
    decisions_to_orders,
    market_prices_df,
    orders_to_outbox,
    outbox_event_router,
)
from .order_queries import (  # noqa: E402
    ORDERS_ORACLE_SQL,
    OUTBOX_ROUTER_ORACLE_SQL,
)


@query("orders_from_decisions", ORDERS_ORACLE_SQL)
def q_orders_from_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full decisions→orders leg: P7/P8 gates, P9 side CASE, P11 broadcast
    dim lookup with default, P12 confidence-scaled qty, P13 sha-derived ids.
    Zero extra shuffles beyond the decision aggregation."""
    decisions = decisions_from_events(_t(spark, sf_dir, "events"))
    return decisions_to_orders(decisions, market_prices_df(spark))


@query("outbox_event_router", OUTBOX_ROUTER_ORACLE_SQL)
def q_outbox_event_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5→S8 leg: orders → outbox rows (P14 JSON payload, P15 epoch-ms
    generated column) → Debezium-EventRouter projection (key/value/topic +
    headers). Pure projections — no shuffle. The oracle rebuilds the
    to_json payload byte-equal by concatenation (fixed field order), so
    this row is hash-matched, not rows-only."""
    decisions = decisions_from_events(_t(spark, sf_dir, "events"))
    orders = decisions_to_orders(decisions, market_prices_df(spark))
    return outbox_event_router(orders_to_outbox(orders))


# ---------------------------------------------------------------------------
# OHLCV candles + VWAP — the market-data aggregation every futures pipeline
# publishes (same signal stream the reference's topology consumes)
# ---------------------------------------------------------------------------
CANDLE_SECONDS = 60

OHLCV_ORACLE = f"""
WITH signals AS (
  SELECT
    event_id AS signal_id,
    CASE user_id % 5
      WHEN 0 THEN 'BTCUSDT' WHEN 1 THEN 'ETHUSDT' WHEN 2 THEN 'SOLUSDT'
      WHEN 3 THEN 'XRPUSDT' ELSE 'NAS100' END AS symbol,
    CAST(event_id % 50 AS DOUBLE) / 100.0 + 0.01 AS qty,
    value AS price,
    epoch_us(ts) AS ts_us
  FROM events
), b AS (
  SELECT *, (ts_us // {CANDLE_SECONDS * 1_000_000}) * {CANDLE_SECONDS} AS bucket_s
  FROM signals
), r AS (
  SELECT *,
    row_number() OVER (PARTITION BY symbol, bucket_s
                       ORDER BY ts_us, signal_id) AS rn_a,
    row_number() OVER (PARTITION BY symbol, bucket_s
                       ORDER BY ts_us DESC, signal_id DESC) AS rn_d
  FROM b
)
SELECT symbol, CAST(bucket_s AS BIGINT) AS bucket_s,
  max(CASE WHEN rn_a = 1 THEN price END) AS open,
  max(price) AS high,
  min(price) AS low,
  max(CASE WHEN rn_d = 1 THEN price END) AS close,
  CAST(CAST(sum(CAST(qty AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE) AS volume,
  round(CAST(CAST(sum(CAST(price * qty AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
        / CAST(CAST(sum(CAST(qty AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE), 6) AS vwap,
  CAST(count(*) AS BIGINT) AS n_trades
FROM r GROUP BY symbol, bucket_s
"""


@query("ohlcv_candles", OHLCV_ORACLE)
def q_ohlcv_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(symbol, minute) OHLCV candles with exact-decimal volume/VWAP:
    open/close picked by deterministic (ts, signal_id) rank, high/low plain
    min/max, sums order-proof through DECIMAL(38,10), VWAP rounded at 6dp.

    Plan at scale: ONE hash exchange — the two rank windows and the final
    aggregate all partition on (symbol, bucket_s), so Catalyst reuses the
    exchange; per-group window state is one counter. Candles at 100 TB are
    the canonical streaming-compactable aggregate (the streaming twin is a
    watermarked groupBy over the same expressions).
    """
    from ..operators.signal_pipeline import signals_from_events

    from ..sqlutil import sql_over_views

    sig = signals_from_events(_t(spark, sf_dir, "events"))
    return sql_over_views(lambda v: f"""
WITH b AS (
  SELECT *, CAST((ts_us div {CANDLE_SECONDS * 1_000_000}) * {CANDLE_SECONDS} AS BIGINT) AS bucket_s
  FROM {v['sig']}
), r AS (
  SELECT *,
    row_number() OVER (PARTITION BY symbol, bucket_s
                       ORDER BY ts_us, signal_id) AS rn_a,
    row_number() OVER (PARTITION BY symbol, bucket_s
                       ORDER BY ts_us DESC, signal_id DESC) AS rn_d
  FROM b
)
SELECT symbol, bucket_s,
  max(CASE WHEN rn_a = 1 THEN price END) AS open,
  max(price) AS high,
  min(price) AS low,
  max(CASE WHEN rn_d = 1 THEN price END) AS close,
  CAST(sum(CAST(qty AS DECIMAL(38,10))) AS DOUBLE) AS volume,
  round(CAST(sum(CAST(price * qty AS DECIMAL(38,10))) AS DOUBLE)
        / CAST(sum(CAST(qty AS DECIMAL(38,10))) AS DOUBLE), 6) AS vwap,
  CAST(count(1) AS BIGINT) AS n_trades
FROM r GROUP BY symbol, bucket_s
""", sig=sig)


def _indicator_select(dec_to_dbl) -> str:
    """The indicator SELECT shared verbatim by Spark and DuckDB, modulo each
    engine's decimal→double spelling (``dec_to_dbl`` wraps a decimal
    expression): SMA-20, Bollinger ±2σ (population stddev via the exact
    sum/sum-of-squares identity, same as the signal pipeline's A10), and
    simple-average RSI-14 (avg gain / avg loss over the last 14 deltas;
    all-loss-free frames pin RSI to 100 per Wilder's convention). Every
    frame sum runs in DECIMAL(38,10) so the engine's sliding-frame
    add/remove strategy cannot change values; sqrt is IEEE
    correctly-rounded, so both engines agree bit-for-bit.

    Shape note (measured): the base window aggregates are computed ONCE in
    an inner subquery and the derived indicators in plain outer
    projections — inlining {m}/{sd}/{rsi} textually put 25 window
    functions in the Window node (Catalyst does not CSE repeated
    `sum(...) OVER` instances) and tripled the window pass; this
    formulation carries 6."""
    s20 = dec_to_dbl("sum(CAST(close AS DECIMAL(38,10))) OVER w20")
    sq20 = dec_to_dbl("sum(CAST(close * close AS DECIMAL(38,10))) OVER w20")
    sg = dec_to_dbl("sum(CAST(gain AS DECIMAL(38,10))) OVER w14")
    sl = dec_to_dbl("sum(CAST(loss AS DECIMAL(38,10))) OVER w14")
    rsi = (
        "CASE WHEN n14 = 0 THEN NULL"
        " WHEN slv = CAST(0.0 AS DOUBLE) THEN CAST(100.0 AS DOUBLE)"
        " ELSE round(CAST(100.0 AS DOUBLE) - CAST(100.0 AS DOUBLE)"
        " / (CAST(1.0 AS DOUBLE) + (sgv / n14) / (slv / n14)), 6) END"
    )
    return f"""
SELECT symbol, bucket_s, close,
  round(m, 6) AS sma20,
  round(m + CAST(2.0 AS DOUBLE) * sd, 6) AS boll_up,
  round(m - CAST(2.0 AS DOUBLE) * sd, 6) AS boll_dn,
  {rsi} AS rsi14,
  n20
FROM (
  SELECT symbol, bucket_s, close, sgv, slv, n14, n20,
    (s20v / n20) AS m,
    sqrt(greatest((sq20v / n20) - (s20v / n20) * (s20v / n20),
                  CAST(0.0 AS DOUBLE))) AS sd
  FROM (
    SELECT symbol, bucket_s, close,
      {s20} AS s20v, {sq20} AS sq20v,
      CAST(count(close) OVER w20 AS BIGINT) AS n20,
      {sg} AS sgv, {sl} AS slv, count(gain) OVER w14 AS n14
    FROM g
    WINDOW
      w20 AS (PARTITION BY symbol ORDER BY bucket_s
              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
      w14 AS (PARTITION BY symbol ORDER BY bucket_s
              ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
  )
)
"""


_INDICATOR_PRE = """
, l AS (
  SELECT symbol, bucket_s, close,
    lag(close) OVER (PARTITION BY symbol ORDER BY bucket_s) AS prev_close
  FROM c
), g AS (
  SELECT symbol, bucket_s, close,
    CASE WHEN prev_close IS NULL THEN NULL
         ELSE greatest(close - prev_close, CAST(0.0 AS DOUBLE)) END AS gain,
    CASE WHEN prev_close IS NULL THEN NULL
         ELSE greatest(prev_close - close, CAST(0.0 AS DOUBLE)) END AS loss
  FROM l
)
"""

TECH_INDICATORS_ORACLE = (
    f"WITH c AS ({OHLCV_ORACLE})"
    + _INDICATOR_PRE
    + _indicator_select(lambda e: f"CAST(CAST({e} AS VARCHAR) AS DOUBLE)")
)


@query("technical_indicators", TECH_INDICATORS_ORACLE)
def q_technical_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMA-20 / Bollinger ±2σ / RSI-14 over the per-minute candle closes —
    the indicator layer a signal engine derives before thresholding (the
    reference's decision thresholds are this family's cousin).

    Plan at scale: candles are one exchange (see q_ohlcv_candles); the
    indicator layer adds ONE more exchange on symbol — all three frames
    and the lag share the (symbol, bucket) sort, so Catalyst computes them
    in a single Window node chain without re-sorting. Frame sums run in
    DECIMAL(38,10): the sliding-frame add/remove strategy cannot change
    results, so streaming/batch/any-engine agree exactly.
    """
    return indicators_over_candles(spark, q_ohlcv_candles(spark, sf_dir))


def indicators_over_candles(spark: SparkSession, candles: DataFrame) -> DataFrame:
    """Apply the SMA/Bollinger/RSI layer to ANY candles DataFrame with
    (symbol, bucket_s, close) — the batch query uses it over the inline
    OHLCV aggregation; the streaming pipeline applies it to the
    continuously-maintained candle store snapshot (same SQL text, so
    stream-fed and batch indicator values agree exactly)."""
    from ..sqlutil import sql_over_views

    return sql_over_views(
        lambda v: f"WITH c AS (SELECT * FROM {v['candles']})"
        + _INDICATOR_PRE
        + _indicator_select(lambda e: f"CAST({e} AS DOUBLE)"),
        candles=candles,
    )


GAPFILL_ORACLE = f"""
WITH signals AS (
  SELECT
    event_id AS signal_id,
    CASE user_id % 5
      WHEN 0 THEN 'BTCUSDT' WHEN 1 THEN 'ETHUSDT' WHEN 2 THEN 'SOLUSDT'
      WHEN 3 THEN 'XRPUSDT' ELSE 'NAS100' END AS symbol,
    value AS price,
    epoch_us(ts) AS ts_us
  FROM events
), b AS (
  SELECT *, (ts_us // {CANDLE_SECONDS * 1_000_000}) * {CANDLE_SECONDS} AS bucket_s
  FROM signals
), r AS (
  SELECT *, row_number() OVER (PARTITION BY symbol, bucket_s
                               ORDER BY ts_us DESC, signal_id DESC) AS rn
  FROM b
), closes AS (
  SELECT symbol, bucket_s, price AS close FROM r WHERE rn = 1
), bounds AS (
  SELECT symbol, min(bucket_s) AS lo, max(bucket_s) AS hi FROM closes GROUP BY symbol
), grid AS (
  SELECT symbol, CAST(g.x AS BIGINT) AS bucket_s
  FROM bounds, unnest(generate_series(lo, hi, {CANDLE_SECONDS})) AS g(x)
)
SELECT g.symbol, g.bucket_s,
  last_value(c.close IGNORE NULLS) OVER (
    PARTITION BY g.symbol ORDER BY g.bucket_s
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price,
  c.close IS NULL AS is_gap
FROM grid g LEFT JOIN closes c
  ON g.symbol = c.symbol AND g.bucket_s = c.bucket_s
"""


@query("gap_fill_price_grid", GAPFILL_ORACLE)
def q_gap_fill_price_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-symbol minute grid with forward-filled last-trade price —
    the resample/completion step every time-series consumer runs before
    indicators or joins against other grids (the batch twin of a
    gap-filling stream). ``is_gap`` marks carried-forward rows.

    Plan at scale: closes are one exchange (window keys = bucket keys);
    the grid explode is map-side from a per-symbol (min, max) bound row;
    the forward fill is a running ``last(price, ignoreNulls)`` per symbol —
    sequential per symbol by nature, parallel across symbols (a real
    deployment range-partitions (symbol, coarse-day) and stitches segment
    boundaries, same as any prefix-scan shape).
    """
    from ..operators.signal_pipeline import signals_from_events

    from ..sqlutil import sql_over_views

    sig = signals_from_events(_t(spark, sf_dir, "events"))
    return sql_over_views(lambda v: f"""
WITH b AS (
  SELECT symbol, price, ts_us, signal_id,
         CAST((ts_us div {CANDLE_SECONDS * 1_000_000}) * {CANDLE_SECONDS} AS BIGINT) AS bucket_s
  FROM {v['sig']}
), r AS (
  SELECT *, row_number() OVER (PARTITION BY symbol, bucket_s
                               ORDER BY ts_us DESC, signal_id DESC) AS rn
  FROM b
), closes AS (
  SELECT symbol, bucket_s, price AS close FROM r WHERE rn = 1
), bounds AS (
  SELECT symbol, min(bucket_s) AS lo, max(bucket_s) AS hi FROM closes GROUP BY symbol
), grid AS (
  SELECT symbol, explode(sequence(lo, hi, {CANDLE_SECONDS})) AS bucket_s FROM bounds
)
SELECT g.symbol, g.bucket_s,
  last(c.close, true) OVER (
    PARTITION BY g.symbol ORDER BY g.bucket_s
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price,
  c.close IS NULL AS is_gap
FROM grid g LEFT JOIN closes c
  ON g.symbol = c.symbol AND g.bucket_s = c.bucket_s
""", sig=sig)


# ---------------------------------------------------------------------------
# Event analytics: ordered funnel + cohort retention
# ---------------------------------------------------------------------------
_DAY_US = 86_400_000_000

FUNNEL_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) // {_DAY_US} AS day, event_type, epoch_us(ts) AS us
  FROM events
), v AS (
  SELECT user_id, day, min(CASE WHEN event_type = 'view' THEN us END) AS tv
  FROM e GROUP BY 1, 2
), c AS (
  SELECT e.user_id, e.day, min(e.us) AS tc
  FROM e JOIN v ON e.user_id = v.user_id AND e.day = v.day
  WHERE e.event_type = 'click' AND v.tv IS NOT NULL AND e.us >= v.tv
  GROUP BY 1, 2
), p AS (
  SELECT e.user_id, e.day, min(e.us) AS tp
  FROM e JOIN c ON e.user_id = c.user_id AND e.day = c.day
  WHERE e.event_type = 'purchase' AND e.us >= c.tc
  GROUP BY 1, 2
), n1 AS (SELECT count(*) AS n FROM v WHERE tv IS NOT NULL)
SELECT stage_ord, stage, CAST(n AS BIGINT) AS n_sessions,
       round(CAST(n AS DOUBLE) / (SELECT n FROM n1), 6) AS conv_from_start
FROM (
  SELECT 1 AS stage_ord, 'view' AS stage, (SELECT n FROM n1) AS n
  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM c)
  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM p)
)
"""


@query("funnel_view_click_purchase", FUNNEL_ORACLE)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over (user, day) sessions: a click counts
    only at-or-after the first view, a purchase only at-or-after that
    click — the sequence-constrained funnel, not mere per-type counts.

    Plan at scale: three aggregations narrowing monotonically (every stage
    keys on (user, day), so one exchange is reused down the chain; stage
    outputs are session-cardinality, far smaller than events). The stage
    rows and denominators are scalar-subquery broadcasts.
    """
    from ..sqlutil import sql_over_views

    return sql_over_views(lambda v_: f"""
WITH e AS (
  SELECT user_id, (ts div 1000) div {_DAY_US} AS day, event_type, ts div 1000 AS us
  FROM {v_['events']}
), v AS (
  SELECT user_id, day, min(CASE WHEN event_type = 'view' THEN us END) AS tv
  FROM e GROUP BY 1, 2
), c AS (
  SELECT e.user_id, e.day, min(e.us) AS tc
  FROM e JOIN v ON e.user_id = v.user_id AND e.day = v.day
  WHERE e.event_type = 'click' AND v.tv IS NOT NULL AND e.us >= v.tv
  GROUP BY 1, 2
), p AS (
  SELECT e.user_id, e.day, min(e.us) AS tp
  FROM e JOIN c ON e.user_id = c.user_id AND e.day = c.day
  WHERE e.event_type = 'purchase' AND e.us >= c.tc
  GROUP BY 1, 2
), n1 AS (SELECT count(*) AS n FROM v WHERE tv IS NOT NULL)
SELECT stage_ord, stage, CAST(n AS BIGINT) AS n_sessions,
       round(CAST(n AS DOUBLE) / (SELECT n FROM n1), 6) AS conv_from_start
FROM (
  SELECT 1 AS stage_ord, 'view' AS stage, (SELECT n FROM n1) AS n
  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM c)
  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM p)
)
""", events=_t(spark, sf_dir, "events"))


COHORT_ORACLE = f"""
WITH e AS (
  SELECT user_id, epoch_us(ts) // {_DAY_US} AS day FROM events
), u AS (
  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1
)
SELECT CAST(u.cohort_day AS BIGINT) AS cohort_day,
       CAST(e.day - u.cohort_day AS BIGINT) AS day_offset,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM e JOIN u ON e.user_id = u.user_id
GROUP BY 1, 2
"""


@query("cohort_retention", COHORT_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    counted distinct on each subsequent day offset — the standard
    engagement rollup.

    Plan at scale: one exchange on user_id serves both the cohort min and
    the join; the distinct-count aggregate keys on (cohort, offset) whose
    cardinality is days², tiny. All-integer arithmetic — nothing to
    round."""
    from ..sqlutil import sql_over_views

    return sql_over_views(lambda v: f"""
WITH e AS (
  SELECT user_id, (ts div 1000) div {_DAY_US} AS day FROM {v['events']}
), u AS (
  SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1
)
SELECT CAST(u.cohort_day AS BIGINT) AS cohort_day,
       CAST(e.day - u.cohort_day AS BIGINT) AS day_offset,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM e JOIN u ON e.user_id = u.user_id
GROUP BY 1, 2
""", events=_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# Relational operator surface — see plans.relational
# ---------------------------------------------------------------------------
from . import relational as _rel  # noqa: E402


def _bind(fn):
    return lambda spark, sf_dir: fn(spark, sf_dir, _t)


# Registered early: the driver walks QUERIES in insertion order under a
# budget, and these four had no CORRECTNESS row in round 1 (the run stopped
# after ~50 queries). Fresh rows beat re-verifying known-green ones.
from . import tpch_wide as _tw  # noqa: E402

QUERIES["q20_excess_stock_suppliers"] = _bind(_tw.q_excess_stock_suppliers)
ORACLES["q20_excess_stock_suppliers"] = _tw.Q20_ORACLE
QUERIES["q21_sole_blame_suppliers"] = _bind(_tw.q_sole_blame_suppliers)
ORACLES["q21_sole_blame_suppliers"] = _tw.Q21_ORACLE
QUERIES["q22_idle_wealthy_customers"] = _bind(_tw.q_idle_wealthy_customers)
ORACLES["q22_idle_wealthy_customers"] = _tw.Q22_ORACLE


from .flagship import DECISION_RECORDS_ORACLE_SQL  # noqa: E402


@query("decision_records", DECISION_RECORDS_ORACLE_SQL)
def q_decision_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: full TradingDecision wire records with the embedded ts-descending
    last-10-per-timeframe signal buffers (A7, bounded ≤30), deterministic sha
    ids, window-derived timestamps.

    For the hash compare, the nested ``signals array<struct>`` is projected to
    a deterministic string key (ts:id:side:timeframe joined most-recent-first)
    — integer/string fields only, so no float-formatting hazard; the full
    struct array (incl. qty/price doubles) is asserted by pytest shape tests.
    """
    from ..operators.signal_pipeline import signals_from_events, to_decision_records

    signals = signals_from_events(_t(spark, sf_dir, "events"))
    recs = to_decision_records(decisions_from_events(_t(spark, sf_dir, "events")), signals)
    sig_key = F.array_join(
        F.transform(
            F.col("signals"),
            lambda s: F.concat_ws(
                ":",
                s["ts_us"].cast("string"),
                s["signal_id"].cast("string"),
                s["side"],
                s["timeframe"],
            ),
        ),
        ";",
    )
    return recs.select(
        "id",
        "symbol",
        "action",
        "confidence",
        "suggested_price",
        "suggested_qty",
        sig_key.alias("signals_key"),
        F.size("signals").cast("long").alias("n_embedded"),
        "timestamp_s",
        "reason",
        "window_start_s",
    )


# New this round (also early in the walk order — no prior CORRECTNESS rows):
# split / TF-IDF / percentiles / grouping sets / range join.
from . import dataprep as _dp_early  # noqa: E402
from . import relational as _rel_early  # noqa: E402

QUERIES["train_val_test_split"] = _bind(_dp_early.q_train_val_test_split)
ORACLES["train_val_test_split"] = _dp_early.SPLIT_ORACLE
QUERIES["tfidf_top_terms"] = _bind(_dp_early.q_tfidf_top_terms)
ORACLES["tfidf_top_terms"] = _dp_early.TFIDF_ORACLE
QUERIES["order_value_percentiles"] = _bind(_rel_early.q_percentiles)
ORACLES["order_value_percentiles"] = _rel_early.PERCENTILES_ORACLE
QUERIES["grouping_sets_revenue"] = _bind(_rel_early.q_grouping_sets)
ORACLES["grouping_sets_revenue"] = _rel_early.GROUPING_SETS_ORACLE
QUERIES["range_join_click_attribution"] = _bind(_rel_early.q_range_join)
ORACLES["range_join_click_attribution"] = _rel_early.RANGE_JOIN_ORACLE
QUERIES["dedup_clusters"] = _bind(_dp_early.q_dedup_clusters)
ORACLES["dedup_clusters"] = _dp_early.CLUSTERS_ORACLE
QUERIES["dedup_canonical_docs"] = _bind(_dp_early.q_dedup_canonical)
ORACLES["dedup_canonical_docs"] = _dp_early.CANONICAL_DOCS_ORACLE
QUERIES["stratified_sample_per_lang"] = _bind(_rel_early.q_stratified_sample)
ORACLES["stratified_sample_per_lang"] = _rel_early.STRATIFIED_SAMPLE_ORACLE
QUERIES["order_price_histogram"] = _bind(_rel_early.q_histogram)
ORACLES["order_price_histogram"] = _rel_early.HISTOGRAM_ORACLE


QUERIES["window_functions"] = _bind(_rel.q_window_functions)
ORACLES["window_functions"] = _rel.WINDOW_FUNCS_ORACLE
QUERIES["moving_aggregates"] = _bind(_rel.q_moving_aggregates)
ORACLES["moving_aggregates"] = _rel.MOVING_AGG_ORACLE
QUERIES["full_outer_reconciliation"] = _bind(_rel.q_full_outer_reconciliation)
ORACLES["full_outer_reconciliation"] = _rel.FULL_OUTER_ORACLE
QUERIES["skew_salted_aggregate"] = _bind(_rel.q_skew_salted_aggregate)
ORACLES["skew_salted_aggregate"] = _rel.SKEW_SALTED_ORACLE
QUERIES["topk_per_group"] = _bind(_rel.q_topk_per_group)
ORACLES["topk_per_group"] = _rel.TOPK_ORACLE
QUERIES["rollup_subtotals"] = _bind(_rel.q_rollup)
ORACLES["rollup_subtotals"] = _rel.ROLLUP_ORACLE
QUERIES["pivot_by_status"] = _bind(_rel.q_pivot)
ORACLES["pivot_by_status"] = _rel.PIVOT_ORACLE
QUERIES["set_ops_priority_customers"] = _bind(_rel.q_set_ops)
ORACLES["set_ops_priority_customers"] = _rel.SET_OPS_ORACLE
QUERIES["customers_without_orders"] = _bind(_rel.q_anti_join)
ORACLES["customers_without_orders"] = _rel.ANTI_JOIN_ORACLE
QUERIES["distinct_aggregates"] = _bind(_rel.q_distinct_agg)
ORACLES["distinct_aggregates"] = _rel.DISTINCT_AGG_ORACLE
QUERIES["sessionize_events"] = _bind(_rel.q_sessionize)
ORACLES["sessionize_events"] = _rel.SESSIONIZE_ORACLE
QUERIES["asof_join_purchases"] = _bind(_rel.q_asof_join)
ORACLES["asof_join_purchases"] = _rel.ASOF_ORACLE
QUERIES["cube_order_stats"] = _bind(_rel.q_cube)
ORACLES["cube_order_stats"] = _rel.CUBE_ORACLE
QUERIES["sliding_window_events"] = _bind(_rel.q_sliding_window)
ORACLES["sliding_window_events"] = _rel.SLIDING_ORACLE

# ---------------------------------------------------------------------------
# Training-data-pipeline surface (dedup / text / similarity / multimodal)
# — see plans.dataprep
# ---------------------------------------------------------------------------
from . import dataprep as _dp  # noqa: E402

QUERIES["exact_dedup_keep_first"] = _bind(_dp.q_exact_dedup)
ORACLES["exact_dedup_keep_first"] = _dp.EXACT_DEDUP_ORACLE
QUERIES["dedup_keep_rows"] = _bind(_dp.q_dedup_keep_rows)
ORACLES["dedup_keep_rows"] = _dp.DEDUP_KEEP_ROWS_ORACLE
QUERIES["line_dedup_docs"] = _bind(_dp.q_line_dedup)
ORACLES["line_dedup_docs"] = _dp.LINE_DEDUP_ORACLE
QUERIES["duplicate_text_spans"] = _bind(_dp.q_duplicate_spans)
ORACLES["duplicate_text_spans"] = _dp.DUP_SPANS_ORACLE
QUERIES["bm25_topk_retrieval"] = _bind(_dp.q_bm25_topk)
ORACLES["bm25_topk_retrieval"] = _dp.BM25_ORACLE
QUERIES["doc_perplexity_scores"] = _bind(_dp.q_doc_perplexity)
ORACLES["doc_perplexity_scores"] = _dp.PERPLEXITY_ORACLE
QUERIES["pagerank_near_dup"] = _bind(_dp.q_pagerank_near_dup)
ORACLES["pagerank_near_dup"] = _dp.PAGERANK_ORACLE
QUERIES["neardup_incremental_batch"] = _bind(_dp.q_neardup_incremental)
ORACLES["neardup_incremental_batch"] = _dp.NEARDUP_INCREMENTAL_ORACLE
QUERIES["corpus_token_stats"] = _bind(_dp.q_corpus_token_stats)
ORACLES["corpus_token_stats"] = _dp.CORPUS_TOKEN_STATS_ORACLE
QUERIES["embedding_kmeans_clusters"] = _bind(_dp.q_kmeans_clusters)
ORACLES["embedding_kmeans_clusters"] = _dp.KMEANS_CLUSTERS_ORACLE
QUERIES["semantic_dedup_embeddings"] = _bind(_dp.q_semantic_dedup)
ORACLES["semantic_dedup_embeddings"] = _dp.SEMANTIC_DEDUP_ORACLE
QUERIES["token_budget_mixture"] = _bind(_dp.q_token_budget_mixture)
ORACLES["token_budget_mixture"] = _dp.TOKEN_BUDGET_MIXTURE_ORACLE
QUERIES["fuzzy_join_part_names"] = _bind(_dp.q_fuzzy_part_names)
ORACLES["fuzzy_join_part_names"] = _dp.FUZZY_PART_NAMES_ORACLE
QUERIES["doc_containment_dedup"] = _bind(_dp.q_doc_containment)
ORACLES["doc_containment_dedup"] = _dp.DOC_CONTAINMENT_ORACLE
QUERIES["domain_cap_sample"] = _bind(_dp.q_domain_cap_sample)
ORACLES["domain_cap_sample"] = _dp.DOMAIN_CAP_ORACLE
QUERIES["leakage_safe_split"] = _bind(_dp.q_leakage_safe_split)
ORACLES["leakage_safe_split"] = _dp.LEAKAGE_SAFE_SPLIT_ORACLE
QUERIES["duplicate_span_removal"] = _bind(_dp.q_duplicate_span_removal)
ORACLES["duplicate_span_removal"] = _dp.SPAN_REMOVAL_ORACLE
QUERIES["containment_incremental_batch"] = _bind(_dp.q_containment_incremental)
ORACLES["containment_incremental_batch"] = _dp.CONTAINMENT_INCREMENTAL_ORACLE
QUERIES["quality_weighted_sample"] = _bind(_dp.q_quality_weighted_sample)
ORACLES["quality_weighted_sample"] = _dp.QUALITY_WEIGHTED_SAMPLE_ORACLE
QUERIES["zorder_layout_key"] = _bind(_dp.q_zorder_layout_key)
ORACLES["zorder_layout_key"] = _dp.ZORDER_ORACLE
QUERIES["token_block_segments"] = _bind(_dp.q_token_block_segments)
ORACLES["token_block_segments"] = _dp.TOKEN_BLOCK_SEGMENTS_ORACLE
QUERIES["simhash_hamming_near_dup"] = _bind(_dp.q_simhash_hamming)
ORACLES["simhash_hamming_near_dup"] = _dp.SIMHASH_HAMMING_ORACLE
QUERIES["simhash64_hamming_near_dup"] = _bind(_dp.q_simhash64_hamming)
ORACLES["simhash64_hamming_near_dup"] = _dp.SIMHASH64_HAMMING_ORACLE
QUERIES["dedup_incremental_batch"] = _bind(_dp.q_dedup_incremental)
ORACLES["dedup_incremental_batch"] = _dp.DEDUP_INCREMENTAL_ORACLE
QUERIES["decontaminate_docs"] = _bind(_dp.q_decontaminate)
ORACLES["decontaminate_docs"] = _dp.DECONTAMINATE_ORACLE
QUERIES["global_shuffle_shards"] = _bind(_dp.q_global_shuffle_shards)
ORACLES["global_shuffle_shards"] = _dp.GLOBAL_SHUFFLE_ORACLE
QUERIES["quality_classifier_scores"] = _bind(_dp.q_quality_classifier)
ORACLES["quality_classifier_scores"] = _dp.QUALITY_CLASSIFIER_ORACLE
QUERIES["text_stats"] = _bind(_dp.q_text_stats)
ORACLES["text_stats"] = _dp.TEXT_STATS_ORACLE
QUERIES["doc_repetition_stats"] = _bind(_dp.q_repetition_stats)
ORACLES["doc_repetition_stats"] = _dp.REPETITION_STATS_ORACLE
QUERIES["pii_scrub"] = _bind(_dp.q_pii_scrub)
ORACLES["pii_scrub"] = _dp.PII_SCRUB_ORACLE
QUERIES["doc_chunks"] = _bind(_dp.q_doc_chunks)
ORACLES["doc_chunks"] = _dp.DOC_CHUNKS_ORACLE
QUERIES["token_blocks"] = _bind(_dp.q_token_blocks)
ORACLES["token_blocks"] = _dp.TOKEN_BLOCKS_ORACLE
QUERIES["mixture_resample"] = _bind(_dp.q_mixture_resample)
ORACLES["mixture_resample"] = _dp.MIXTURE_RESAMPLE_ORACLE
QUERIES["corpus_clean_funnel"] = _bind(_dp.q_corpus_funnel)
ORACLES["corpus_clean_funnel"] = _dp.CORPUS_FUNNEL_ORACLE
QUERIES["benchmark_contamination"] = _bind(_dp.q_benchmark_contamination)
ORACLES["benchmark_contamination"] = _dp.CONTAMINATION_ORACLE
QUERIES["minhash_lsh_near_dup"] = _bind(_dp.q_minhash_lsh)
ORACLES["minhash_lsh_near_dup"] = _dp.MINHASH_ORACLE
QUERIES["ngram_jaccard_near_dup"] = _bind(_dp.q_ngram_jaccard)
ORACLES["ngram_jaccard_near_dup"] = _dp.NGRAM_JACCARD_ORACLE
QUERIES["simhash_buckets"] = _bind(_dp.q_simhash)
ORACLES["simhash_buckets"] = _dp.SIMHASH_ORACLE
QUERIES["cosine_topk_bruteforce"] = _bind(_dp.q_cosine_topk)
ORACLES["cosine_topk_bruteforce"] = _dp.COSINE_TOPK_ORACLE
# ann_cosine_lsh: the oracle replays the SAME seeded hyperplane literals and
# left-fold dots in DuckDB, so the approximate query is exactly checkable
QUERIES["ann_cosine_lsh"] = _bind(_dp.q_ann_lsh)
ORACLES["ann_cosine_lsh"] = _dp.ANN_LSH_ORACLE
# ann_cosine_ivf: the oracle unrolls the ENTIRE seeded-init + 2-step Lloyd
# training in SQL (floor-quantized integer sums → no rounding-tie ambiguity),
# so even the trained index is exactly checkable
QUERIES["ann_cosine_ivf"] = _bind(_dp.q_ann_ivf)
ORACLES["ann_cosine_ivf"] = _dp.ANN_IVF_ORACLE
# ann_cosine_ivf_pq: coarse + PER-SUBSPACE codebook training + encoding +
# ADC + band re-rank, ALL replayed in SQL (r12 VERDICT next #4)
QUERIES["ann_cosine_ivf_pq"] = _bind(_dp.q_ann_ivf_pq)
ORACLES["ann_cosine_ivf_pq"] = _dp.ANN_IVF_PQ_ORACLE
QUERIES["embedding_near_dup"] = _bind(_dp.q_embedding_near_dup)
ORACLES["embedding_near_dup"] = _dp.EMBEDDING_NEAR_DUP_ORACLE
# Real PPM/WAV decode; payloads deterministic from doc_id → the oracle
# reconstructs every pixel/sample analytically, so decode is hash-matched
QUERIES["multimodal_features"] = _bind(_dp.q_multimodal_features)
ORACLES["multimodal_features"] = _dp.MULTIMODAL_ORACLE

# ---------------------------------------------------------------------------
# More TPC-H-shaped joins + remaining §2 items — see plans.tpch_more
# ---------------------------------------------------------------------------
from . import tpch_more as _tm  # noqa: E402

QUERIES["q3_shipping_priority"] = _bind(_tm.q_shipping_priority)
ORACLES["q3_shipping_priority"] = _tm.Q3_ORACLE
QUERIES["q5_regional_revenue"] = _bind(_tm.q_regional_revenue)
ORACLES["q5_regional_revenue"] = _tm.Q5_ORACLE
QUERIES["q6_forecast_revenue"] = _bind(_tm.q_forecast_revenue)
ORACLES["q6_forecast_revenue"] = _tm.Q6_ORACLE
QUERIES["q4_order_priority"] = _bind(_tm.q_order_priority)
ORACLES["q4_order_priority"] = _tm.Q4_ORACLE
QUERIES["above_brand_avg_parts"] = _bind(_tm.q_above_brand_avg)
ORACLES["above_brand_avg_parts"] = _tm.ABOVE_BRAND_AVG_ORACLE
QUERIES["q12_priority_shipping"] = _bind(_tm.q_priority_shipping)
ORACLES["q12_priority_shipping"] = _tm.Q12_ORACLE
QUERIES["q14_promo_revenue"] = _bind(_tm.q_promo_revenue)
ORACLES["q14_promo_revenue"] = _tm.Q14_ORACLE
QUERIES["q18_large_volume_orders"] = _bind(_tm.q_large_volume_orders)
ORACLES["q18_large_volume_orders"] = _tm.Q18_ORACLE
QUERIES["signal_strength_histogram"] = _bind(_tm.q_strength_histogram)
ORACLES["signal_strength_histogram"] = _tm.STRENGTH_ORACLE
# sketches can't hash-match across engines, so the query emits exact values
# + in-query error-bound flags; the oracle checks the exact columns and
# expects every flag TRUE (a drifting sketch turns this row red)
QUERIES["approx_aggregates"] = _bind(_tm.q_approx_aggregates)
ORACLES["approx_aggregates"] = _tm.APPROX_AGG_ORACLE

# ---------------------------------------------------------------------------
# Wider TPC-H coverage (Q7-Q22 shapes) — see plans.tpch_wide
# (q20/q21/q22 registered earlier, near the top of the walk order)
# ---------------------------------------------------------------------------
QUERIES["q7_nation_trade_volume"] = _bind(_tw.q_nation_trade_volume)
ORACLES["q7_nation_trade_volume"] = _tw.Q7_ORACLE
QUERIES["q8_market_share"] = _bind(_tw.q_market_share)
ORACLES["q8_market_share"] = _tw.Q8_ORACLE
QUERIES["q9_profit_by_nation"] = _bind(_tw.q_profit_by_nation)
ORACLES["q9_profit_by_nation"] = _tw.Q9_ORACLE
QUERIES["q10_returned_items"] = _bind(_tw.q_returned_items)
ORACLES["q10_returned_items"] = _tw.Q10_ORACLE
QUERIES["q11_important_suppliers"] = _bind(_tw.q_important_suppliers)
ORACLES["q11_important_suppliers"] = _tw.Q11_ORACLE
QUERIES["q13_order_count_distribution"] = _bind(_tw.q_customer_order_distribution)
ORACLES["q13_order_count_distribution"] = _tw.Q13_ORACLE
QUERIES["q15_top_supplier"] = _bind(_tw.q_top_supplier)
ORACLES["q15_top_supplier"] = _tw.Q15_ORACLE
QUERIES["q16_supplier_diversity"] = _bind(_tw.q_supplier_diversity)
ORACLES["q16_supplier_diversity"] = _tw.Q16_ORACLE
QUERIES["q17_small_quantity_revenue"] = _bind(_tw.q_small_quantity_revenue)
ORACLES["q17_small_quantity_revenue"] = _tw.Q17_ORACLE
QUERIES["q19_disjunctive_revenue"] = _bind(_tw.q_disjunctive_revenue)
ORACLES["q19_disjunctive_revenue"] = _tw.Q19_ORACLE
QUERIES["q2_min_cost_supplier"] = _bind(_tw.q_min_cost_supplier)
ORACLES["q2_min_cost_supplier"] = _tw.Q2_ORACLE


# ---------------------------------------------------------------------------
# CDC consumer-side materializations (S7) on a deterministic change log
# derived from orders: key = o_custkey, change time = o_orderdate (day
# resolution → deliberate ts ties, broken by o_orderkey), op mapped from
# order attributes so all of c/u/d occur.
# ---------------------------------------------------------------------------
_CDC_CHANGE_LOG_SQL = """
  SELECT o_custkey, o_orderkey,
    CASE WHEN o_orderpriority = '1-URGENT' THEN 'd'
         WHEN o_orderstatus = 'O' THEN 'c' ELSE 'u' END AS op,
    CAST(epoch(o_orderdate) AS BIGINT) AS ts_s,
    o_totalprice
  FROM orders
"""

CDC_SNAPSHOT_ORACLE_SQL = f"""
WITH changes AS ({_CDC_CHANGE_LOG_SQL})
SELECT o_custkey, o_orderkey, op, ts_s, o_totalprice
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY o_custkey ORDER BY ts_s DESC, o_orderkey DESC) AS rn
  FROM changes
)
WHERE rn = 1 AND op <> 'd'
"""

SCD2_HISTORY_ORACLE_SQL = f"""
WITH changes AS ({_CDC_CHANGE_LOG_SQL})
SELECT o_custkey, o_orderkey, op, ts_s, o_totalprice,
  valid_to_s, (valid_to_s IS NULL AND op <> 'd') AS is_current
FROM (
  SELECT *, lead(ts_s) OVER (
    PARTITION BY o_custkey ORDER BY ts_s, o_orderkey) AS valid_to_s
  FROM changes
)
WHERE op <> 'd'
"""


def _orders_change_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", "d")
        .when(F.col("o_orderstatus") == "O", "c")
        .otherwise("u")
        .alias("op"),
        _ntz_epoch_s("o_orderdate").alias("ts_s"),
        "o_totalprice",
    )


@query("cdc_customer_snapshot", CDC_SNAPSHOT_ORACLE_SQL)
def q_cdc_customer_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 consumer-side: latest-wins-per-key current state with delete
    tombstones, over the orders-derived change log. One key exchange +
    WindowGroupLimit (state O(keys), not O(changes))."""
    from ..operators.order_pipeline import cdc_latest_snapshot

    return cdc_latest_snapshot(
        _orders_change_log(spark, sf_dir),
        ["o_custkey"],
        ts_col="ts_s",
        tiebreak_cols=["o_orderkey"],
    )


@query("scd2_customer_history", SCD2_HISTORY_ORACLE_SQL)
def q_scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 consumer-side: SCD Type-2 versioned history — every change gains a
    validity interval via one streaming lead() pass; deletes close intervals
    but emit no version. One key exchange, O(1) window state."""
    from ..operators.order_pipeline import cdc_scd2_history

    return cdc_scd2_history(
        _orders_change_log(spark, sf_dir),
        ["o_custkey"],
        ts_col="ts_s",
        tiebreak_cols=["o_orderkey"],
        valid_to_col="valid_to_s",
    ).select(
        "o_custkey", "o_orderkey", "op", "ts_s", "o_totalprice",
        "valid_to_s", "is_current",
    )


# ---------------------------------------------------------------------------
# BPE subword tokenizer family (round 8 — r7 VERDICT item 1); plans.dataprep
# holds the queries + oracle generator, operators.bpe the algorithm.
# ---------------------------------------------------------------------------
QUERIES["bpe_vocab"] = _bind(_dp.q_bpe_vocab)
ORACLES["bpe_vocab"] = _dp.BPE_VOCAB_ORACLE
QUERIES["bpe_token_counts"] = _bind(_dp.q_bpe_token_counts)
ORACLES["bpe_token_counts"] = _dp.BPE_TOKEN_COUNTS_ORACLE
QUERIES["bpe_token_counts_v1k"] = _bind(_dp.q_bpe_token_counts_v1k)
ORACLES["bpe_token_counts_v1k"] = _dp.BPE_TOKEN_COUNTS_V1K_ORACLE
# byte-level (GPT-2-shaped) BPE: bijection + training + apply all replayed
QUERIES["bpe_token_counts_bytes"] = _bind(_dp.q_bpe_token_counts_bytes)
ORACLES["bpe_token_counts_bytes"] = _dp.BPE_TOKEN_COUNTS_BYTES_ORACLE
QUERIES["bpe_token_blocks_v1k"] = _bind(_dp.q_bpe_token_blocks_v1k)
ORACLES["bpe_token_blocks_v1k"] = _dp.BPE_TOKEN_BLOCKS_V1K_ORACLE
QUERIES["bpe_subword_vocab_v1k"] = _bind(_dp.q_bpe_subword_vocab_v1k)
ORACLES["bpe_subword_vocab_v1k"] = _dp.BPE_SUBWORD_VOCAB_V1K_ORACLE
QUERIES["bpe_token_blocks"] = _bind(_dp.q_bpe_token_blocks)
ORACLES["bpe_token_blocks"] = _dp.BPE_TOKEN_BLOCKS_ORACLE
QUERIES["cosine_topk_q8"] = _bind(_dp.q_cosine_topk_q8)
ORACLES["cosine_topk_q8"] = _dp.COSINE_TOPK_Q8_ORACLE
QUERIES["cosine_topk_q8_rerank"] = _bind(_dp.q_cosine_topk_q8_rerank)
ORACLES["cosine_topk_q8_rerank"] = _dp.COSINE_TOPK_Q8_RERANK_ORACLE
QUERIES["hybrid_rrf_retrieval"] = _bind(_dp.q_hybrid_rrf)
ORACLES["hybrid_rrf_retrieval"] = _dp.HYBRID_RRF_ORACLE
QUERIES["bpe_subword_vocab"] = _bind(_dp.q_bpe_subword_vocab)
ORACLES["bpe_subword_vocab"] = _dp.BPE_SUBWORD_VOCAB_ORACLE
QUERIES["temperature_mixture_sample"] = _bind(_dp.q_temperature_mixture)
ORACLES["temperature_mixture_sample"] = _dp.TEMPERATURE_MIXTURE_ORACLE

# --------------------------------------------------------------------------
# Round 10: data-selection / retrieval-training / leakage operators
# --------------------------------------------------------------------------
QUERIES["dsir_importance_sample"] = _bind(_dp.q_dsir_sample)
ORACLES["dsir_importance_sample"] = _dp.DSIR_SAMPLE_ORACLE
QUERIES["bloom_dedup_gate"] = _bind(_dp.q_bloom_gate)
ORACLES["bloom_dedup_gate"] = _dp.BLOOM_GATE_ORACLE
QUERIES["hard_negative_mining"] = _bind(_dp.q_hard_negatives)
ORACLES["hard_negative_mining"] = _dp.HARD_NEG_ORACLE
QUERIES["semantic_decontamination"] = _bind(_dp.q_semantic_decontamination)
ORACLES["semantic_decontamination"] = _dp.SEM_DECON_ORACLE
QUERIES["unigram_token_counts"] = _bind(_dp.q_unigram_token_counts)
ORACLES["unigram_token_counts"] = _dp.UNIGRAM_TOKEN_COUNTS_ORACLE
QUERIES["unigram_subword_vocab"] = _bind(_dp.q_unigram_subword_vocab)
ORACLES["unigram_subword_vocab"] = _dp.UNIGRAM_SUBWORD_VOCAB_ORACLE
QUERIES["unigram_vocab"] = _bind(_dp.q_unigram_vocab)
ORACLES["unigram_vocab"] = _dp.UNIGRAM_VOCAB_ORACLE
QUERIES["gopher_quality_rules"] = _bind(_dp.q_gopher_quality_rules)
ORACLES["gopher_quality_rules"] = _dp.GOPHER_RULES_ORACLE
QUERIES["perplexity_buckets"] = _bind(_dp.q_perplexity_buckets)
ORACLES["perplexity_buckets"] = _dp.PPLX_BUCKETS_ORACLE

# --------------------------------------------------------------------------
# Round 11: language identification + WordPiece (the remaining production
# tokenizer) — VERDICT r10 "what's missing" #1 and #2
# --------------------------------------------------------------------------
QUERIES["langid_scores"] = _bind(_dp.q_langid_scores)
ORACLES["langid_scores"] = _dp.LANGID_ORACLE
QUERIES["wordpiece_token_counts"] = _bind(_dp.q_wordpiece_token_counts)
ORACLES["wordpiece_token_counts"] = _dp.WORDPIECE_TOKEN_COUNTS_ORACLE
QUERIES["wordpiece_vocab"] = _bind(_dp.q_wordpiece_vocab)
ORACLES["wordpiece_vocab"] = _dp.WORDPIECE_VOCAB_ORACLE
QUERIES["wordpiece_subword_vocab"] = _bind(_dp.q_wordpiece_subword_vocab)
ORACLES["wordpiece_subword_vocab"] = _dp.WORDPIECE_SUBWORD_VOCAB_ORACLE
QUERIES["perplexity_buckets_derived_lang"] = _bind(_dp.q_perplexity_buckets_derived)
ORACLES["perplexity_buckets_derived_lang"] = _dp.PPLX_BUCKETS_DERIVED_ORACLE
QUERIES["prototype_pruning"] = _bind(_dp.q_prototype_pruning)
ORACLES["prototype_pruning"] = _dp.PROTOTYPE_PRUNING_ORACLE
QUERIES["d4_selection"] = _bind(_dp.q_d4_selection)
ORACLES["d4_selection"] = _dp.D4_SELECTION_ORACLE
QUERIES["langid_confidence"] = _bind(_dp.q_langid_confidence)
ORACLES["langid_confidence"] = _dp.LANGID_CONFIDENCE_ORACLE
QUERIES["exactsubstr_gram_cut"] = _bind(_dp.q_exactsubstr_gram_cut)
ORACLES["exactsubstr_gram_cut"] = _dp.GRAM_CUT_ORACLE
QUERIES["moore_lewis_selection"] = _bind(_dp.q_moore_lewis_selection)
ORACLES["moore_lewis_selection"] = _dp.MOORE_LEWIS_ORACLE


# ---------------------------------------------------------------------------
# Driver walk order. The driver checks ~50 queries per round in insertion
# order; front-load (a) queries NEW this round, (b) the rotation the r7
# VERDICT asked for (item 2: the 20 queries whose newest driver row is r5),
# (c) queries whose implementation changed this round, then (d) as many
# r6-aged rows as fit the window. Mutated in place so importers holding a
# reference to QUERIES/ORACLES see the new order.
# ---------------------------------------------------------------------------
_WALK_FIRST = [
    # Priority 0 — NEW this round (never had a driver row): the IVF-PQ
    # quantization rung and the byte-level (GPT-2-shaped) BPE counts.
    "ann_cosine_ivf_pq",
    "bpe_token_counts_bytes",
    # Priority 1 — implementation changed this round: the shared
    # train-once retrieval core (c153215) feeds all three, and the span
    # family's gram keys went binary (unhex(md5), 3e6ae3f).
    "bm25_topk_retrieval",
    "hybrid_rrf_retrieval",
    "hard_negative_mining",
    "duplicate_span_removal",
    "bloom_dedup_gate",
    # Priority 2 — r12 VERDICT next #3's rotation: 42 of the 43 queries
    # whose newest driver row is r10 (computed from the CORRECTNESS_r01-r12
    # union; the 43rd, hard_negative_mining, sits in priority 1 above).
    # After this walk no query's newest row is older than r11.
    "above_brand_avg_parts",
    "ann_cosine_ivf",
    "ann_cosine_lsh",
    "bpe_token_blocks_v1k",
    "cohort_retention",
    "containment_incremental_batch",
    "dedup_canonical_docs",
    "dedup_clusters",
    "dedup_exact_documents",
    "dedup_incremental_batch",
    "dedup_keep_rows",
    "doc_containment_dedup",
    "dsir_importance_sample",
    "duplicate_text_spans",
    "exact_dedup_keep_first",
    "funnel_view_click_purchase",
    "gopher_quality_rules",
    "line_dedup_docs",
    "minhash_lsh_near_dup",
    "neardup_incremental_batch",
    "ngram_jaccard_near_dup",
    "q10_returned_items",
    "q11_important_suppliers",
    "q12_priority_shipping",
    "q13_order_count_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_diversity",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q20_excess_stock_suppliers",
    "q21_sole_blame_suppliers",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_regional_revenue",
    "q6_forecast_revenue",
    "q7_nation_trade_volume",
    "q8_market_share",
    "semantic_decontamination",
    "simhash64_hamming_near_dup",
    "unigram_subword_vocab",
    # Priority 3 — one r11 slot: the CDC/SCD2 spine the r12 VERDICT named.
    "scd2_customer_history",
]

assert all(k in QUERIES for k in _WALK_FIRST), "walk-order typo"
_order = _WALK_FIRST + [k for k in QUERIES if k not in _WALK_FIRST]
_snapshot = dict(QUERIES)
QUERIES.clear()
QUERIES.update({k: _snapshot[k] for k in _order})
