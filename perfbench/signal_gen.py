"""Open-loop signal generator: one process, one parquet drop per tick.

Run as its own process so that a slow stream never slows the load::

    python3 perfbench/signal_gen.py --out DIR --rate 1000 --seconds 20 \\
        --seed 7 --start-wall 1700000000.0 --event-base-us 1704067200000000

Every ``TICK_S`` of wall time it writes ``rate * TICK_S`` signals as one
parquet file: first to a hidden ``.tmp-*`` name (the Spark file source skips
hidden files), then renamed into place, so the stream only ever lists whole
files. Tick ``i`` is due at ``start_wall + (i + 1) * TICK_S`` and holds the
signals created during ``[i, i + 1) * TICK_S``.

Event time runs on a compressed clock, ``CLOCK`` event seconds per wall
second (one 5-minute window per wall second), so a signal's creation time
is the inverse of that mapping and needs no extra column. Each (symbol,
window) draws a buy probability from the seed, so some windows are
actionable and produce orders.

The last stdout line is a JSON summary: files, rows and the generator's
lateness (``lag_ms_max``: how far a rename landed after its due time).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TICK_S = 0.25
CLOCK = 300  # event seconds per wall second: one 5-min window per second
SYMBOLS = ("BTCUSDT", "ETHUSDT", "SOLUSDT", "XRPUSDT", "NAS100")
BASE_PRICES = (65000.0, 3000.0, 160.0, 0.6, 20000.0)
TIMEFRAMES = ("1m", "5m", "15m")
BUY_P = (0.15, 0.5, 0.85)  # per (symbol, window) side bias

SCHEMA = pa.schema([
    ("signal_id", pa.int64()), ("symbol", pa.string()), ("side", pa.string()),
    ("qty", pa.float64()), ("price", pa.float64()),
    ("timeframe", pa.string()), ("ts_us", pa.int64()),
])


def window_bias(seed: int, n_windows: int) -> np.ndarray:
    """Buy probability per (window, symbol): the seeded side bias."""
    rng = np.random.default_rng([seed, 1])
    return np.asarray(BUY_P)[rng.integers(0, len(BUY_P), (n_windows, len(SYMBOLS)))]


def tick_table(
    tick: int, rows: int, seed: int, event_base_us: int, bias: np.ndarray
) -> pa.Table:
    """The signals of one tick; a pure function of its arguments."""
    rng = np.random.default_rng([seed, 2, tick])
    # creation times spread evenly over the tick, mapped to event time
    wall = (tick + (np.arange(rows) + 0.5) / rows) * TICK_S
    ts_us = event_base_us + np.round(wall * CLOCK * 1e6).astype(np.int64)
    window = (wall * CLOCK // 300).astype(np.int64)
    sym = rng.integers(0, len(SYMBOLS), rows)
    buy = rng.random(rows) < bias[window, sym]
    base = np.asarray(BASE_PRICES)[sym]
    return pa.table(
        {
            "signal_id": np.arange(tick * rows, (tick + 1) * rows, dtype=np.int64),
            "symbol": np.asarray(SYMBOLS)[sym],
            "side": np.where(buy, "BUY", "SELL"),
            "qty": rng.random(rows) * 0.49 + 0.01,
            "price": base * (1.0 + (rng.random(rows) - 0.5) * 0.006),
            "timeframe": np.asarray(TIMEFRAMES)[rng.integers(0, 3, rows)],
            "ts_us": ts_us,
        },
        schema=SCHEMA,
    )


def run(out: str, rate: int, seconds: float, seed: int, start_wall: float,
        event_base_us: int) -> dict:
    rows = int(rate * TICK_S)
    ticks = int(round(seconds / TICK_S))
    bias = window_bias(seed, int(seconds) + 2)
    os.makedirs(out, exist_ok=True)
    lags = []
    for tick in range(ticks):
        table = tick_table(tick, rows, seed, event_base_us, bias)
        due = start_wall + (tick + 1) * TICK_S
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        tmp = os.path.join(out, f".tmp-{tick:06d}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(out, f"sig-{tick:06d}.parquet"))
        lags.append(time.time() - due)
    return {
        "files": ticks,
        "rows": ticks * rows,
        "lag_ms_max": max(lags) * 1000.0,
        "lag_ms_p50": float(np.median(lags)) * 1000.0,
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--rate", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start-wall", type=float, required=True)
    ap.add_argument("--event-base-us", type=int, required=True)
    a = ap.parse_args(argv)
    summary = run(a.out, a.rate, a.seconds, a.seed, a.start_wall, a.event_base_us)
    print(json.dumps(summary), flush=True)


if __name__ == "__main__":
    sys.exit(main())
