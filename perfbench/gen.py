"""Seeded input generator for the benchmark workloads.

Everything here is NumPy + PyArrow; the engine only ever sees the
parquet files written by :func:`write_candles` and :func:`write_events`.
The same seed gives the same arrays.

Two data sets:

- **candles**: dense hourly OHLCV for 7 symbols whose lengths keep the
  reference's ratios (Bitstamp 1h: BTC/USD 55,071 rows, ETH/BTC 32,071,
  ...), scaled by ``CANDLE_FRACTION``. The FIXTURES.md A1 irregularities
  are injected: 0.1% of hours deleted (gaps), 0.5% of rows duplicated
  with a different value that arrives later (keep-last must pick it),
  a noisier first 90 days and a 70%-null ``note`` column. Written twice:
  as OHLCV (``candles.parquet``) and in the ``events`` shape that
  ``sources.tables.events_series`` reads (``<dir>/events.parquet``).
- **many-symbol events**: the testdata ``events`` table's shape — about
  1,500 symbols with about 67 irregular events each over 30 days, plus
  0.5% same-timestamp late duplicates.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bitstamp 1h row counts of the reference's 7 symbols (BASELINE.md)
REF_ROWS = (55_071, 32_071, 32_051, 33_540, 33_540, 36_563, 37_530)
SYMBOLS = ("BTC/USD", "ETH/BTC", "ETH/USD", "LTC/BTC", "LTC/USD", "XRP/BTC", "XRP/USD")
#: share of each reference series generated: the smallest that keeps
#: every symbol's val split (15% after a 10% warm-up skip) longer than
#: one L+P=448 window, so all 7 symbols answer queries
CANDLE_FRACTION = 0.11
GAP_FRAC = 0.001
DUP_FRAC = 0.005
NOTE_NULL_FRAC = 0.7
JUNK_HOURS = 90 * 24
#: every series ends at the same hour (the reference's 2021-04 cut)
CANDLE_END_US = 1_617_235_200 * 1_000_000  # 2021-04-01T00:00:00Z

EVENT_SYMBOLS = 1_500
EVENT_ROWS = 100_000
EVENT_START_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z
EVENT_SPAN_US = 30 * 86_400 * 1_000_000

HOUR_US = 3_600 * 1_000_000
TS = pa.timestamp("us")


def candle_rows(fraction: float = CANDLE_FRACTION) -> list[int]:
    return [int(round(n * fraction)) for n in REF_ROWS]


def _symbol_candles(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """One symbol's dense hourly series before gaps/duplicates."""
    vol = np.full(n, 0.01)
    vol[: min(JUNK_HOURS, n)] = 0.03  # noisy leading junk
    logret = rng.normal(0.0, vol)
    close = 100.0 * np.exp(np.cumsum(logret))
    open_ = np.concatenate(([close[0]], close[:-1]))
    wick = np.abs(rng.normal(0.0, vol, size=(2, n)))
    high = np.maximum(open_, close) * (1.0 + wick[0])
    low = np.minimum(open_, close) * (1.0 - wick[1])
    volume = rng.lognormal(3.0, 1.5, size=n)
    ts = CANDLE_END_US - (n - 1 - np.arange(n, dtype=np.int64)) * HOUR_US
    return {
        "datetime": ts,
        "open": np.round(open_, 6),
        "high": np.round(high, 6),
        "low": np.round(low, 6),
        "close": np.round(close, 6),
        "volume": np.round(volume, 4),
    }


def make_candles(seed: int, fraction: float = CANDLE_FRACTION) -> dict[str, np.ndarray]:
    """Column arrays of the candle set in arrival order (``seq``):
    every symbol's on-time rows, then the late duplicates."""
    rng = np.random.default_rng([seed, 1])
    parts = []
    for sym_id, n in enumerate(candle_rows(fraction)):
        cols = _symbol_candles(rng, n)
        # gaps: never the first or last hour, so the span is unchanged
        n_gap = int(round(n * GAP_FRAC))
        drop = rng.choice(np.arange(1, n - 1), size=n_gap, replace=False)
        keep = np.ones(n, dtype=bool)
        keep[drop] = False
        cols = {k: v[keep] for k, v in cols.items()}
        cols["symbol_id"] = np.full(keep.sum(), sym_id, dtype=np.int64)
        parts.append(cols)
    on_time = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
    n_on = on_time["close"].size
    n_dup = int(round(n_on * DUP_FRAC))
    src = np.sort(rng.choice(n_on, size=n_dup, replace=False))
    late = {k: v[src].copy() for k, v in on_time.items()}
    bump = 1.0 + rng.normal(0.0, 0.002, size=n_dup)
    for c in ("open", "high", "low", "close"):
        late[c] = np.round(late[c] * bump, 6)
    late["high"] = np.maximum(late["high"], np.maximum(late["open"], late["close"]))
    late["low"] = np.minimum(late["low"], np.minimum(late["open"], late["close"]))
    late["volume"] = np.round(late["volume"] * 1.1, 4)
    out = {k: np.concatenate([on_time[k], late[k]]) for k in on_time}
    out["seq"] = np.arange(n_on + n_dup, dtype=np.int64)
    out["note_null"] = rng.random(n_on + n_dup) < NOTE_NULL_FRAC
    return out


def make_events(seed: int) -> dict[str, np.ndarray]:
    """Irregular many-symbol events (testdata ``events`` shape)."""
    rng = np.random.default_rng([seed, 2])
    n_dup = int(round(EVENT_ROWS * DUP_FRAC))
    n_base = EVENT_ROWS - n_dup
    user = rng.integers(0, EVENT_SYMBOLS, size=n_base, dtype=np.int64)
    ts = EVENT_START_US + rng.integers(0, EVENT_SPAN_US, size=n_base, dtype=np.int64)
    order = np.lexsort((user, ts))  # arrival order = time order
    user, ts = user[order], ts[order]
    # per-symbol random walk in arrival order, positive, 2 decimals
    steps = rng.normal(0.0, 1.0, size=n_base)
    level = 50.0 + rng.random(EVENT_SYMBOLS) * 100.0
    value = np.empty(n_base)
    by_user = np.argsort(user, kind="stable")
    walk = np.cumsum(steps[by_user])
    starts = np.searchsorted(user[by_user], np.arange(EVENT_SYMBOLS))
    offset = np.concatenate(([0.0], walk))[starts]
    walk -= np.repeat(offset, np.diff(np.append(starts, n_base)))
    value[by_user] = np.abs(level[user[by_user]] + walk) + 1.0
    src = rng.choice(n_base, size=n_dup, replace=False)
    user = np.concatenate([user, user[src]])
    ts = np.concatenate([ts, ts[src]])
    value = np.concatenate([value, value[src] + rng.normal(0.0, 1.0, size=n_dup)])
    return {
        "event_id": np.arange(EVENT_ROWS, dtype=np.int64),
        "ts": ts,
        "user_id": user,
        "value": np.round(np.abs(value) + 0.01, 2),
    }


def _events_table(event_id, ts, user_id, event_type: str, value) -> pa.Table:
    n = len(event_id)
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts, TS),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": pa.array(np.full(n, event_type)),
            "value": pa.array(value, pa.float64()),
            "props": pa.nulls(n, pa.string()),
        }
    )


def candles_ohlcv_table(c: dict[str, np.ndarray]) -> pa.Table:
    symbols = np.asarray(SYMBOLS)[c["symbol_id"]]
    note = pa.array(
        np.where(c["note_null"], None, "src=" + symbols.astype(object)),
        pa.string(),
    )
    return pa.table(
        {
            "symbol": pa.array(symbols),
            "datetime": pa.array(c["datetime"], TS),
            "open": c["open"],
            "high": c["high"],
            "low": c["low"],
            "close": c["close"],
            "volume": c["volume"],
            "note": note,
            "seq": c["seq"],
        }
    )


def candles_events_table(c: dict[str, np.ndarray]) -> pa.Table:
    return _events_table(c["seq"], c["datetime"], c["symbol_id"], "candle", c["close"])


def events_table(e: dict[str, np.ndarray]) -> pa.Table:
    return _events_table(e["event_id"], e["ts"], e["user_id"], "tick", e["value"])


def keep_last_close_sum(c: dict[str, np.ndarray]) -> float:
    """Sum of ``close`` over the rows that survive keep-last dedup on
    (symbol, datetime) by arrival ``seq`` — what every observed hour of
    the feature table must carry."""
    key = c["symbol_id"] * (1 << 40) + c["datetime"] // HOUR_US
    order = np.lexsort((c["seq"], key))
    k = key[order]
    last = np.append(k[1:] != k[:-1], True)
    return float(c["close"][order][last].sum())


def write_candles(c: dict[str, np.ndarray], out_dir: str) -> None:
    """``candles.parquet`` (OHLCV) and ``events.parquet`` (the same rows
    in the events shape) under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(candles_ohlcv_table(c), os.path.join(out_dir, "candles.parquet"))
    pq.write_table(candles_events_table(c), os.path.join(out_dir, "events.parquet"))


def write_events(e: dict[str, np.ndarray], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(events_table(e), os.path.join(out_dir, "events.parquet"))
