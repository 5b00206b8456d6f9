"""Accuracy/behavior tests for operators whose values can't be hash-compared
against DuckDB (approximate sketches, generator, JDBC helpers)."""

from __future__ import annotations

from pyspark.sql import functions as F

from futures_eos_cdc_spark.plans import QUERIES
from futures_eos_cdc_spark.sources.generator import generate_signals
from futures_eos_cdc_spark.sources.jdbc import recent_orders


def test_approx_aggregates_self_verifying(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact_parts = li.select(F.count_distinct("l_partkey")).collect()[0][0]
    row = QUERIES["approx_aggregates"](spark, sf_dir).collect()[0]
    # exact columns are truly exact
    assert row.exact_parts == exact_parts
    # every in-query sketch error bound holds
    assert row.parts_err_ok and row.orders_err_ok
    assert row.median_rank_ok and row.p99_rank_ok


def test_generator_deterministic_and_in_range(spark):
    a = generate_signals(spark, 1000, seed=7).collect()
    b = generate_signals(spark, 1000, seed=7).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for r in a[:100]:
        assert r.side in ("BUY", "SELL")
        assert 0.01 <= r.qty <= 0.5
        assert r.timeframe in ("1m", "5m", "15m")
        assert r.price > 0
    # different seed → different stream
    c = generate_signals(spark, 1000, seed=8).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def test_generated_signals_flow_through_decide(spark):
    from futures_eos_cdc_spark.operators.signal_pipeline import decide

    sig = generate_signals(spark, 5000, seed=7, rate_per_sec=50)
    decisions = decide(sig)
    rows = decisions.collect()
    assert len(rows) > 0
    assert all(r.n_timeframes >= 2 for r in rows)


def test_recent_orders_take_ordered(spark):
    from futures_eos_cdc_spark.operators.order_pipeline import (
        decisions_to_orders,
        market_prices_df,
    )
    from futures_eos_cdc_spark.operators.signal_pipeline import (
        decide,
        signals_from_events,
    )
    from futures_eos_cdc_spark.sources.tables import load_table

    decisions = decide(signals_from_events(load_table(spark, "/root/testdata/sf0.01", "events")))
    orders = decisions_to_orders(decisions, market_prices_df(spark))
    top = recent_orders(orders, 5)
    rows = top.collect()
    assert len(rows) <= 5
    ts = [r.created_at_s for r in rows]
    assert ts == sorted(ts, reverse=True)
    # the plan must be a TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in top._jdf.queryExecution().executedPlan().toString()


def test_ohlcv_candles_invariants_and_hand_check(spark):
    """Candle semantics: low <= open/close/vwap <= high, volume exact, and a
    hand-built 2-symbol stream produces exactly the expected candles."""
    from futures_eos_cdc_spark.plans.registry import q_ohlcv_candles, _t  # noqa: F401
    from futures_eos_cdc_spark.operators.signal_pipeline import signals_from_events

    rows = q_ohlcv_candles(spark, "/root/testdata/sf0.01").collect()
    assert len(rows) > 0
    for r in rows:
        assert r.low <= r.high
        assert r.low <= r.open <= r.high and r.low <= r.close <= r.high
        assert r.low - 1e-9 <= r.vwap <= r.high + 1e-9
        assert r.n_trades >= 1 and r.volume > 0
        assert r.bucket_s % 60 == 0

    # hand check: the open is the FIRST price by (ts, id), close the LAST
    from futures_eos_cdc_spark.sources.tables import load_table

    sig = signals_from_events(
        load_table(spark, "/root/testdata/sf0.01", "events")
    ).collect()
    import collections
    groups = collections.defaultdict(list)
    for s in sig:
        groups[(s.symbol, (s.ts_us // 60_000_000) * 60)].append(s)
    by_key = {(r.symbol, r.bucket_s): r for r in rows}
    assert set(groups) == set(by_key)
    for key, members in list(groups.items())[:50]:
        members.sort(key=lambda s: (s.ts_us, s.signal_id))
        r = by_key[key]
        assert r.open == members[0].price and r.close == members[-1].price
        assert r.high == max(m.price for m in members)
        assert r.low == min(m.price for m in members)
        assert r.n_trades == len(members)


def test_gap_fill_forward_fills_constructed_gaps(spark):
    """Forward fill on a hand-built stream: missing minutes carry the last
    close, is_gap marks them, and each symbol's grid spans exactly
    [first trade, last trade]."""
    from futures_eos_cdc_spark.plans.registry import GAPFILL_ORACLE, q_gap_fill_price_grid  # noqa: F401
    import futures_eos_cdc_spark.plans.registry as R

    # two symbols; sym A trades at minutes 0, 3 (gap at 1, 2); B at 0, 1
    # signals_from_events maps user_id%5 -> symbol, ts(ns) div 1000 -> us
    def ev(eid, uid, minute, value):
        return (eid, minute * 60_000_000_000, uid, "view", value, None)

    events = spark.createDataFrame(
        [ev(1, 0, 0, 10.0), ev(2, 0, 3, 13.0), ev(3, 1, 0, 20.0), ev(4, 1, 1, 21.0)],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    orig = R._t
    R._t = lambda spark_, sf_dir_, name: events
    try:
        rows = {(r.symbol, r.bucket_s): r for r in q_gap_fill_price_grid(spark, "ignored").collect()}
    finally:
        R._t = orig
    a, b = "BTCUSDT", "ETHUSDT"
    assert {(s, t) for s, t in rows} == {(a, 0), (a, 60), (a, 120), (a, 180), (b, 0), (b, 60)}
    assert (rows[(a, 0)].price, rows[(a, 0)].is_gap) == (10.0, False)
    assert (rows[(a, 60)].price, rows[(a, 60)].is_gap) == (10.0, True)
    assert (rows[(a, 120)].price, rows[(a, 120)].is_gap) == (10.0, True)
    assert (rows[(a, 180)].price, rows[(a, 180)].is_gap) == (13.0, False)
    assert (rows[(b, 60)].price, rows[(b, 60)].is_gap) == (21.0, False)


def test_technical_indicators_invariants(spark):
    """Indicator sanity: RSI in [0,100] (100 only on loss-free frames),
    Bollinger bands bracket the SMA symmetrically, n20 ramps 1..20, and a
    monotonic price series pins RSI to 100."""
    from futures_eos_cdc_spark.plans.registry import q_technical_indicators
    import futures_eos_cdc_spark.plans.registry as R

    rows = q_technical_indicators(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0
    for r in rows:
        if r.rsi14 is not None:
            assert 0.0 <= r.rsi14 <= 100.0
        # each output rounds to 6dp independently -> asymmetry up to 2 ulp@6dp
        assert abs((r.boll_up - r.sma20) - (r.sma20 - r.boll_dn)) < 2e-6
        assert 1 <= r.n20 <= 20

    # strictly rising closes -> every delta is a gain -> RSI 100
    def ev(eid, minute, value):
        return (eid, minute * 60_000_000_000, 0, "view", value, None)

    events = spark.createDataFrame(
        [ev(i, i, 100.0 + i) for i in range(6)],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    orig = R._t
    R._t = lambda spark_, sf_dir_, name: events
    try:
        mono = q_technical_indicators(spark, "ignored").collect()
    finally:
        R._t = orig
    mono.sort(key=lambda r: r.bucket_s)
    assert all(r.rsi14 == 100.0 for r in mono[1:])
    assert mono[0].rsi14 is None  # no prior close -> no delta yet
