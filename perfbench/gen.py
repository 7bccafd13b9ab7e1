"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files, and the engine only ever sees
those files on disk.

* ``etl_wide``  -- many symbols, one ``<SYM>_M1.csv`` each, lower-case
  reference column names (``time,open,high,low,close,volume``).
* ``etl_deep``  -- two FX symbols, one ``<SYM>_M1.parquet`` each, with
  the ``datetime/Open/High/Low/Close/tickvol`` spelling and the market
  closed from Friday 22:00 to Sunday 22:00 UTC.
* ``table_ops`` -- one parquet file of 1-minute candles per simulated
  day (16 symbols), plus one parquet file of revised candles per day.

Both ETL inputs drop ~1 % of the minutes (never a series' first or last
stamp) and repeat ~0.5 % of the stamps later in the same file with
different values, so keep-first dedupe has work to do.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MINUTE_US = 60_000_000
DAY_MIN = 1440
#: 2024-03-04 00:00:00 UTC (a Monday), in microseconds since the epoch.
BASE_US = 1_709_510_400_000_000

MISSING_SHARE = 0.01
DUP_SHARE = 0.005


@dataclass(frozen=True)
class Series:
    """One symbol's raw rows in file order (duplicates included)."""

    symbol: str
    ts_us: np.ndarray
    open: np.ndarray
    high: np.ndarray
    low: np.ndarray
    close: np.ndarray
    volume: np.ndarray


def _candles(rng: np.random.Generator, n: int, start_price: float, vol: float):
    """Random-walk OHLCV, rounded to 5 decimals, with LOW <= O,C <= HIGH."""
    close = start_price * np.exp(np.cumsum(rng.normal(0.0, vol, n)))
    open_ = np.concatenate(([start_price], close[:-1]))
    wick = np.abs(rng.normal(0.0, vol * start_price, (2, n)))
    high = np.maximum(open_, close) + wick[0]
    low = np.minimum(open_, close) - wick[1]
    volume = rng.integers(1, 500, n).astype(np.int64)
    r = lambda a: np.round(a, 5)  # noqa: E731
    return r(open_), r(high), r(low), r(close), volume


def _series(
    rng: np.random.Generator, symbol: str, minutes: np.ndarray, price: float
) -> Series:
    """Drop ~1 % of *minutes* (keeping both ends) and re-insert ~0.5 %
    of the stamps, with perturbed values, 1-200 rows after the original."""
    keep = rng.random(len(minutes)) >= MISSING_SHARE
    keep[0] = keep[-1] = True
    ts = minutes[keep] * MINUTE_US + BASE_US
    n = len(ts)
    o, h, lo, c, v = _candles(rng, n, price, 2e-4)

    dup = np.flatnonzero(rng.random(n) < DUP_SHARE)
    dup = dup[dup < n - 1]  # a later position must exist
    after = np.minimum(dup + rng.integers(1, 201, len(dup)), n - 1)
    bump = 1.0 + rng.uniform(0.001, 0.01, len(dup))
    # original row i sorts at 2i; a duplicate placed after row j at 2j+1
    order = np.argsort(np.concatenate((2 * np.arange(n), 2 * after + 1)), kind="stable")

    def cat(a: np.ndarray, d: np.ndarray) -> np.ndarray:
        return np.concatenate((a, d))[order]

    dh = np.round(h[dup] * bump, 5)
    dl = np.round(lo[dup] / bump, 5)
    return Series(
        symbol=symbol,
        ts_us=cat(ts, ts[dup]),
        open=cat(o, np.round(np.clip(o[dup] * bump, dl, dh), 5)),
        high=cat(h, dh),
        low=cat(lo, dl),
        close=cat(c, np.round(np.clip(c[dup] / bump, dl, dh), 5)),
        volume=cat(v, v[dup] + 7),
    )


def wide_series(seed: int, symbols: int, minutes: int) -> list[Series]:
    """24/7 minute series spanning *minutes*; each symbol starts 0-59
    minutes late so first stamps are not aligned to the 5m/15m/1H grids."""
    rng = np.random.default_rng([seed, 1])
    out = []
    for i in range(symbols):
        offset = int(rng.integers(0, 60))
        stamps = np.arange(offset, minutes, dtype=np.int64)
        out.append(_series(rng, f"SYM{i:03d}", stamps, float(rng.uniform(5, 500))))
    return out


def fx_minutes(days: int) -> np.ndarray:
    """Minutes since the Monday base on which the FX market is open:
    closed from Friday 22:00 to Sunday 22:00 UTC."""
    m = np.arange(days * DAY_MIN, dtype=np.int64)
    week = m % (7 * DAY_MIN)
    closed = (week >= 4 * DAY_MIN + 22 * 60) & (week < 6 * DAY_MIN + 22 * 60)
    return m[~closed]


def deep_series(seed: int, days: int) -> list[Series]:
    rng = np.random.default_rng([seed, 2])
    minutes = fx_minutes(days)
    return [
        _series(rng, sym, minutes, price)
        for sym, price in (("EURUSD", 1.08), ("USDJPY", 150.0))
    ]


def _ts_array(ts_us: np.ndarray) -> pa.Array:
    return pa.array(ts_us, type=pa.timestamp("us", tz="UTC"))


def write_wide(raw_dir: str, series: list[Series]) -> None:
    """One CSV per symbol: ``time,open,high,low,close,volume``."""
    os.makedirs(raw_dir, exist_ok=True)
    for s in series:
        stamps = np.datetime_as_string(s.ts_us.astype("datetime64[us]"), unit="s")
        lines = ["time,open,high,low,close,volume"]
        lines += [
            f"{t.replace('T', ' ')},{o:.5f},{h:.5f},{lo:.5f},{c:.5f},{v}"
            for t, o, h, lo, c, v in zip(
                stamps, s.open, s.high, s.low, s.close, s.volume
            )
        ]
        with open(os.path.join(raw_dir, f"{s.symbol}_M1.csv"), "w") as fh:
            fh.write("\n".join(lines) + "\n")


def write_deep(raw_dir: str, series: list[Series]) -> None:
    """One parquet file per symbol: ``datetime,Open,High,Low,Close,tickvol``."""
    os.makedirs(raw_dir, exist_ok=True)
    for s in series:
        table = pa.table(
            {
                "datetime": _ts_array(s.ts_us),
                "Open": s.open,
                "High": s.high,
                "Low": s.low,
                "Close": s.close,
                "tickvol": s.volume,
            }
        )
        pq.write_table(table, os.path.join(raw_dir, f"{s.symbol}_M1.parquet"))


# --------------------------------------------------------------------
# table_ops
# --------------------------------------------------------------------

TABLE_SYMBOLS = 16
REVISED_SHARE = 0.01


def _candle_table(sym: list[str], ts_us, o, h, lo, c, v) -> pa.Table:
    return pa.table(
        {
            "SYMBOL": pa.array(sym, type=pa.string()),
            "TIMESTAMP": _ts_array(np.asarray(ts_us, dtype=np.int64)),
            "OPEN": np.asarray(o, dtype=np.float64),
            "HIGH": np.asarray(h, dtype=np.float64),
            "LOW": np.asarray(lo, dtype=np.float64),
            "CLOSE": np.asarray(c, dtype=np.float64),
            "VOLUME": np.asarray(v, dtype=np.float64),
        }
    )


def write_table_ops(out_dir: str, seed: int, days: int, minutes_per_day: int) -> list[dict]:
    """Per day: ``day_NNN.parquet`` (that day's candles for every symbol)
    and ``rev_NNN.parquet`` (~1 % of the candles seen so far, with new
    values, some of them from earlier days). Returns one dict per day
    with both paths."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    symbols = [f"TK{i:02d}" for i in range(TABLE_SYMBOLS)]
    price = rng.uniform(5, 500, TABLE_SYMBOLS)
    seen: list[pa.Table] = []
    plan = []
    for day in range(days):
        minutes = np.arange(minutes_per_day, dtype=np.int64)
        ts = BASE_US + (day * DAY_MIN + minutes) * MINUTE_US
        parts = []
        for k, sym in enumerate(symbols):
            o, h, lo, c, v = _candles(rng, minutes_per_day, float(price[k]), 2e-4)
            price[k] = c[-1]
            parts.append(_candle_table([sym] * minutes_per_day, ts, o, h, lo, c, v))
        today = pa.concat_tables(parts)
        seen.append(today)
        pool = pa.concat_tables(seen)
        n_rev = max(1, int(round(len(today) * REVISED_SHARE)))
        pick = np.sort(rng.choice(len(pool), n_rev, replace=False))
        base = pool.take(pick)
        bump = 1.0 + rng.uniform(0.001, 0.01, n_rev)
        hi = np.round(base["HIGH"].to_numpy() * bump, 5)
        lo_ = np.round(base["LOW"].to_numpy() / bump, 5)
        rev = _candle_table(
            base["SYMBOL"].to_pylist(),
            base["TIMESTAMP"].cast(pa.int64()).to_numpy(),
            np.round(np.clip(base["OPEN"].to_numpy() * bump, lo_, hi), 5),
            hi,
            lo_,
            np.round(np.clip(base["CLOSE"].to_numpy() / bump, lo_, hi), 5),
            base["VOLUME"].to_numpy() + 11,
        )
        day_path = os.path.join(out_dir, f"day_{day:03d}.parquet")
        rev_path = os.path.join(out_dir, f"rev_{day:03d}.parquet")
        pq.write_table(today, day_path)
        pq.write_table(rev, rev_path)
        plan.append({"day": day, "append": day_path, "revise": rev_path})
    return plan
