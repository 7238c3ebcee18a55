"""The benchmark's workloads.

Each workload object owns its generated inputs and offers:

- ``run()``: one operation through the engine's public functions, with
  tracing off; returns the operation's output in comparable form;
- ``run_traced(tracer)``: the same operation with every layer's output
  forced at the layer boundary, inside a span per layer call;
- ``items(result)``: the units of work one operation completed;
- ``check(first, results, traced)``: outside the timed region —
  whether the first operation is right (against an oracle or the
  generator's own numbers) and whether every later one equals it
  exactly (``traced`` flags the results of traced operations).
"""

from __future__ import annotations

import math
import os
import random
import time
from contextlib import contextmanager

import duckdb
from pyspark.sql import functions as F

from big_data_stock_price_forecast_spark.functions.calendar import add_calendar, add_time_idx
from big_data_stock_price_forecast_spark.operators.cleaning import dedup_keep_last
from big_data_stock_price_forecast_spark.operators.forecast import forecast_evaluate
from big_data_stock_price_forecast_spark.operators.gapfill import fill_missing_time_idx
from big_data_stock_price_forecast_spark.operators.resample import resample_ohlcv
from big_data_stock_price_forecast_spark.operators.rolling import (
    add_indicators,
    add_indicators2,
    add_indicators3,
    add_indicators4,
    recursive_battery_arrow,
)
from big_data_stock_price_forecast_spark.operators.smoothing import savgol_smooth
from big_data_stock_price_forecast_spark.plans import flagship
from big_data_stock_price_forecast_spark.plans.flagship import FlagshipParams
from big_data_stock_price_forecast_spark.plans.registry_ts import (
    _flagship_oracle,
    _flagship_oracle_ctes,
)
from big_data_stock_price_forecast_spark.sources.tables import load_table

import gen

#: the reference's evaluation config (notebooks/test.ipynb evaluate:
#: seq_len 256, pred_window 192, k=5, top-2, stride 64, L2) on the 1h grid
CANDLE_PARAMS = FlagshipParams(
    resample_every="1 hour",
    step_seconds=3600,
    L=256,
    pred_window=192,
    k=5,
    ensemble=2,
    stride=64,
    metric="l2",
)

#: the smoke config (6h grid, L=8, P=4, stride 2) under each scorer of
#: the reference's dist_func_eval sweep
EVENT_PARAMS = [FlagshipParams(metric=m) for m in ("l1", "l2", "cosine")]

OHLCV = ["open", "high", "low", "close", "volume"]


def _plain(name, fn, *args, **kwargs):
    return fn(*args, **kwargs)


@contextmanager
def _patched(module, **attrs):
    saved = {k: getattr(module, k) for k in attrs}
    for k, v in attrs.items():
        setattr(module, k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            setattr(module, k, v)


# -- per-layer counters: count(span, layer_args, forced_output) ----------


def _rows(key):
    def count(span, args, out):
        span.counts[key] = out.count()

    return count


def _rows_in_out(span, args, out):
    span.counts["rows_in"] = args[0].count()
    span.counts["rows_out"] = out.count()


def _windows(span, args, out):
    arrays = [c for c in ("xs", "future") if c in out.columns]
    n, values = out.agg(
        F.count(F.lit(1)), F.sum(sum(F.size(c) for c in arrays))
    ).first()
    span.counts["built"] = n
    span.counts["array_values"] = values or 0


def _per_symbol(windows, pred_window) -> dict:
    full = windows.filter(F.size("future") == pred_window)
    return {r[0]: r[1] for r in full.groupBy("symbol").count().collect()}


def _traced_forecast(tr, evaluate):
    """Forecast layer: inputs forced in ``forecast.inputs``, the
    plan-building call (which runs the operator's own eager steps) in
    ``forecast.plan``, the forced output in the ``forecast`` span."""

    def traced(train_w, val_w, pred_window, **kwargs):
        with tr.span("forecast") as s:
            with tr.span("forecast.inputs"):
                train_w = train_w.localCheckpoint(eager=True)
                val_w = val_w.localCheckpoint(eager=True)
            with tr.span("trace.count"):
                t = _per_symbol(train_w, pred_window)
                q = _per_symbol(val_w, pred_window)
                if kwargs.get("within_symbol", True):
                    pairs = sum(n * t.get(sym, 0) for sym, n in q.items())
                else:
                    pairs = sum(q.values()) * sum(t.values())
                s.counts.update(
                    queries=sum(q.values()),
                    candidates=sum(t.values()),
                    pairs_scored=pairs,
                )
            with tr.span("forecast.plan"):
                out = evaluate(train_w, val_w, pred_window, **kwargs)
            return out.localCheckpoint(eager=True)

    return traced


def _r4(x: float) -> float:
    """The oracle's 4-decimal half-up rounding (registry_common._rne)."""
    if abs(x) >= 1e12:
        return x + 0.0
    return math.floor(x * 1e4 + 0.5) / 1e4 + 0.0


class Backtest:
    """``plans.flagship.flagship_per_query_mae`` once per parameter set;
    the result is each set's sorted (symbol, window_id, mae) rows."""

    def __init__(self, spark, in_dir: str, params: list[FlagshipParams]):
        self.spark = spark
        self.in_dir = in_dir
        self.params = params
        self.plan_times: list[float] = []

    def _plans(self):
        return [
            flagship.flagship_per_query_mae(self.spark, self.in_dir, p)
            for p in self.params
        ]

    @staticmethod
    def _collect(dfs):
        return [sorted(tuple(r) for r in df.collect()) for df in dfs]

    def run(self):
        t = time.perf_counter()
        dfs = self._plans()
        self.plan_times.append(time.perf_counter() - t)
        return self._collect(dfs)

    def run_traced(self, tr):
        f = flagship
        layers = dict(
            events_series=tr.wrap("sources", f.events_series, _rows("rows_read")),
            dedup_keep_last=tr.wrap("cleaning.dedup", f.dedup_keep_last, _rows_in_out),
            resample_ohlcv=tr.wrap("resample", f.resample_ohlcv, _rows("buckets_out")),
            positional_skip_frac=tr.wrap("cleaning.split", f.positional_skip_frac),
            positional_split_labeled=tr.wrap("cleaning.split", f.positional_split_labeled),
            fill_missing_time_idx=tr.wrap("gapfill", f.fill_missing_time_idx, _rows_in_out),
            sliding_windows=tr.wrap("windows", f.sliding_windows, _windows),
            forecast_evaluate=_traced_forecast(tr, f.forecast_evaluate),
        )
        with _patched(flagship, **layers):
            with tr.span("plans"):
                dfs = self._plans()
        with tr.span("action"):
            return self._collect(dfs)

    @staticmethod
    def items(result) -> int:
        return sum(len(rows) for rows in result)

    def check(self, first, results, traced) -> tuple[str, bool, list[bool]]:
        """Untraced passes must equal the first exactly. A traced pass
        runs another physical plan (every layer materialized), which
        can reorder the float additions of the per-query ``avg``; it
        must match the oracle at the oracle's rounding, and any
        last-bit difference from the first pass is reported."""
        expected = _duckdb_rows(self.in_dir, [_flagship_oracle(p) for p in self.params])

        def matches_oracle(res):
            return [[(s, w, _r4(m)) for s, w, m in rows] for rows in res] == expected

        first_ok = matches_oracle(first)
        n = sum(len(rows) for rows in expected)
        note = f"first pass {'matches' if first_ok else 'DIFFERS FROM'} the DuckDB oracle ({n} rows)"
        ok = []
        for i, (r, t) in enumerate(zip(results, traced)):
            if r != first:
                kind = "traced " if t else ""
                note += f"; {kind}pass {i + 1} differs from the first: {_diff(first, r)}"
            ok.append(matches_oracle(r) if t else r == first)
        return note, first_ok, ok


def _diff(a: list[list[tuple]], b: list[list[tuple]]) -> str:
    """How two backtest results differ: rows whose key or mae differ,
    and the largest mae difference among rows with equal keys."""
    rows = worst = 0
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if x != y:
                rows += 1
                if x[:2] == y[:2]:
                    worst = max(worst, abs(x[2] - y[2]))
    sizes = [len(r) for r in a] != [len(r) for r in b]
    return f"{rows} rows differ, max |mae diff| {worst!r}" + (", row counts differ" if sizes else "")


def _duckdb_rows(in_dir: str, queries: list[str]) -> list[list[tuple]]:
    """Each DuckDB query's sorted rows over ``<in_dir>/events.parquet``."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
        path = os.path.join(in_dir, "events.parquet")
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
        return [sorted(con.sql(q).fetchall()) for q in queries]
    finally:
        con.close()


class ServeRequests:
    """Forecast serving: the train-window store is built and cached
    once (``prepare``); then one client in a closed loop sends requests,
    each a seeded pick of one val query window of the reference config,
    answered by ``forecast_evaluate(..., return_steps=True)``. The
    result is ((symbol, window_id), per-step (step, pred, target))."""

    def __init__(self, spark, in_dir: str, seed: int):
        self.spark = spark
        self.in_dir = in_dir
        self.p = CANDLE_PARAMS
        self.rng = random.Random(seed)
        self.plan_times: list[float] = []

    def prepare(self) -> list[str]:
        t = time.perf_counter()
        self.store = flagship.flagship_train_store(self.spark, self.in_dir, self.p).cache()
        n = self.store.count()
        build_s = time.perf_counter() - t
        _, val_w = flagship._flagship_train_val(self.spark, self.in_dir, self.p)
        self.schema = val_w.schema
        full = val_w.filter(F.size("future") == self.p.pred_window)
        self.pool = sorted(full.collect(), key=lambda r: (r.symbol, r.window_id))
        return [
            f"store_build_s={build_s!r} s ({n} train windows cached)",
            f"query pool: {len(self.pool)} val windows; closed loop, 1 client",
        ]

    def _request(self, row, evaluate):
        q = self.spark.createDataFrame([row], self.schema)
        p = self.p
        return evaluate(
            self.store, q, p.pred_window, k=p.k, ensemble=p.ensemble, metric=p.metric,
            within_symbol=p.within_symbol, dim=p.L, return_steps=True,
        )

    @staticmethod
    def _answer(row, df):
        steps = sorted((r.step, r.pred, r.target) for r in df.collect())
        return (row.symbol, row.window_id), tuple(steps)

    def run(self):
        row = self.rng.choice(self.pool)
        t = time.perf_counter()
        df = self._request(row, forecast_evaluate)
        self.plan_times.append(time.perf_counter() - t)
        return self._answer(row, df)

    def run_traced(self, tr):
        row = self.rng.choice(self.pool)
        with tr.span("plans"):
            df = self._request(row, _traced_forecast(tr, forecast_evaluate))
        with tr.span("action"):
            return self._answer(row, df)

    @staticmethod
    def items(result) -> int:
        return 1

    def check(self, first, results, traced) -> tuple[str, bool, list[bool]]:
        sql = (
            _flagship_oracle_ctes(self.p)
            + "\nSELECT q_symbol, q_window_id, step - 1, pred, target"
            " FROM ens JOIN target_steps USING (q_symbol, q_window_id, step)"
        )
        expected: dict = {}
        for sym, wid, step, pred, target in _duckdb_rows(self.in_dir, [sql])[0]:
            expected.setdefault((sym, wid), []).append((step, pred, target))
        first_seen: dict = {}
        ok = []
        for key, steps in [first, *results]:
            first_seen.setdefault(key, steps)
            ok.append(steps == first_seen[key] and steps == tuple(expected.get(key, ())))
        note = (
            f"{len(first_seen)} distinct windows answered, each compared with the "
            f"DuckDB oracle's per-step (pred, target)"
        )
        return note, ok[0], ok[1:]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith(".")
    )


class CandleFeatures:
    """Candles -> keep-last dedup -> 1h resample -> gap fill -> the
    indicator batteries -> Savitzky-Golay -> calendar columns, written
    as a parquet feature table. The result is the table's path."""

    def __init__(self, spark, in_dir: str, out_dir: str, candles: dict):
        self.spark = spark
        self.in_dir = in_dir
        self.out_dir = out_dir
        self.rows = sum(gen.candle_rows())
        self.gaps = sum(int(round(n * gen.GAP_FRAC)) for n in gen.candle_rows())
        self.close_sum = gen.keep_last_close_sum(candles)
        self.plan_times: list[float] = []
        self._n = 0

    def _plan(self, layer=_plain):
        spark = self.spark
        df = layer("sources", load_table, spark, self.in_dir, "candles")
        df = layer(
            "cleaning.dedup",
            dedup_keep_last,
            df.repartition(spark.sparkContext.defaultParallelism, "symbol"),
            ["symbol", "datetime"],
            "seq",
        )
        df = layer(
            "resample", resample_ohlcv, df.select("symbol", "datetime", *OHLCV), every="1 hour"
        )
        df = add_time_idx(df, "datetime", 3600).drop("n_rows")
        df = layer("gapfill", fill_missing_time_idx, df, step_seconds=3600, fill_cols=OHLCV)
        for fn in (add_indicators, add_indicators2, add_indicators3, add_indicators4):
            df = layer("rolling", fn, df)
        df = layer("rolling", recursive_battery_arrow, df, derived_tail=True)
        df = layer("smoothing", savgol_smooth, df, ["close"])
        return add_calendar(df, "datetime")

    def _next_path(self) -> str:
        self._n += 1
        return os.path.join(self.out_dir, f"features-{self._n}")

    def run(self):
        t = time.perf_counter()
        df = self._plan()
        self.plan_times.append(time.perf_counter() - t)
        path = self._next_path()
        df.write.mode("overwrite").parquet(path)
        return path

    def run_traced(self, tr):
        counters = {
            "sources": _rows("rows_read"),
            "cleaning.dedup": _rows_in_out,
            "resample": _rows("buckets_out"),
            "gapfill": _rows_in_out,
        }

        def layer(name, fn, *args, **kwargs):
            return tr.layer(name, fn, *args, count=counters.get(name), **kwargs)

        with tr.span("plans"):
            df = self._plan(layer)
        path = self._next_path()
        with tr.span("sink") as s:
            df.write.mode("overwrite").parquet(path)
            with tr.span("trace.count"):
                s.counts["bytes_written"] = dir_bytes(path)
        return path

    def digest(self, path: str) -> tuple[tuple, float]:
        """(row count, filled gaps, two order-free hashes over every
        column), and the observed close sum (float: order-dependent, so
        only compared with the generator, within a tolerance)."""
        df = self.spark.read.parquet(path)
        h = F.xxhash64(*sorted(df.columns))
        row = df.agg(
            F.count(F.lit(1)),
            F.sum("is_gap"),
            F.bit_xor(h),
            F.sum(F.pmod(h, F.lit(1 << 31))),
            F.sum(F.when(F.col("is_gap") == 0, F.col("close"))),
        ).first()
        return tuple(row[:4]), row[4]

    def items(self, result) -> int:
        return self.rows

    def check(self, first, results, traced) -> tuple[str, bool, list[bool]]:
        d0, close_sum = self.digest(first)
        rows, gaps = d0[:2]
        first_ok = (
            rows == self.rows
            and gaps == self.gaps
            and math.isclose(close_sum, self.close_sum, rel_tol=1e-9)
        )
        note = (
            f"first table: {rows} rows (expected {self.rows}), {gaps} filled gaps "
            f"(expected {self.gaps}), observed close sum {close_sum!r} "
            f"(generator {self.close_sum!r})"
        )
        return note, first_ok, [self.digest(r)[0] == d0 for r in results]
