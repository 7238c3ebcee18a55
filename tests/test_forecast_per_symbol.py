"""The fused per-symbol backtest (operators.forecast.forecast_per_symbol)
against the Spark route it replaces at wide window shapes, the
serving route's payload split, and the fullscale flagship against its
DuckDB oracle.

Route parity runs the whole flagship on a small synthetic events table
at L=64/P=8 (width 72, past ARROW_BUILD_MIN_WIDTH): once as shipped
(fused), once with the width threshold raised so the same plan takes
the Spark operators (JVM window build, search join, rank window,
aggregates).
"""

from __future__ import annotations

import math
import os
import random
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from big_data_stock_price_forecast_spark.operators import forecast as FC
from big_data_stock_price_forecast_spark.operators import windows as W
from big_data_stock_price_forecast_spark.operators.windows import (
    sliding_windows,
)
from big_data_stock_price_forecast_spark.plans.flagship import (
    FlagshipParams,
    flagship_per_query_mae,
)

BASE_TS = datetime(2024, 1, 1)
L, P = 64, 8

#: symbol -> hourly events; every symbol is a random walk except where
#: noted. 1: a 120-hour run at exactly 100.0 inside its val split
#: (zero-norm query windows: scale 0, cosine sentinel on every pair);
#: 2: one 64-hour block copied to three train spots and to the first
#: val query (distance-0 ties that window_id must break; the copies'
#: futures differ, so a wrong pick changes the MAE); 3: hour gaps (gap
#: fill); 4: too short for any val window; 5, 6: odd/even symbols for
#: query_symbol_mod.
_LENGTHS = {1: 700, 2: 640, 3: 660, 4: 120, 5: 600, 6: 620}
#: symbol 2's copy spots: train windows 36, 132 and 228 hours after the
#: first train window (on the cand_stride 3 and 4 cursors) and the
#: first val window (skip 10% -> train from hour 64, val from hour 554)
_COPIES = (100, 196, 292, 554)


def _events(seed: int = 11):
    rng = random.Random(seed)
    block = [round(rng.uniform(90.0, 110.0), 4) for _ in range(L)]
    rows, eid = [], 0
    for sym, n in _LENGTHS.items():
        x = 100.0
        for h in range(n):
            if sym == 3 and h % 37 == 5:
                continue  # a missing hour: filled by the gap fill
            copy = [c for c in _COPIES if c <= h < c + L] if sym == 2 else []
            if copy:
                v = block[h - copy[0]]
            elif sym == 1 and n - 130 <= h < n - 10:
                v = 100.0  # sums of 100.0 are exact: scale is 0.0
            else:
                x = round(x + rng.gauss(0.0, 1.0), 4)
                v = x
            ts = BASE_TS + timedelta(hours=h, minutes=30)
            rows.append((eid, ts, sym, "tick", v, None))
            eid += 1
    return rows


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fused_events"))
    spark.createDataFrame(
        _events(),
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{path}/events.parquet")
    return path


def _params(metric="l2", cand_stride=1, query_symbol_mod=None):
    return FlagshipParams(
        resample_every="1 hour",
        step_seconds=3600,
        L=L,
        pred_window=P,
        stride=3,
        metric=metric,
        cand_stride=cand_stride,
        query_symbol_mod=query_symbol_mod,
    )


def _rows(df):
    return {(r.symbol, r.window_id): r.mae for r in df.collect()}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "metric,cand_stride,query_symbol_mod",
    [
        ("l2", 1, None),
        ("l1", 1, None),
        ("cosine", 1, None),
        ("l2", 4, None),
        ("cosine", 3, 2),
    ],
)
def test_fused_route_matches_spark_route(
    spark, events_dir, monkeypatch, metric, cand_stride, query_symbol_mod
):
    p = _params(metric, cand_stride, query_symbol_mod)
    assert L + P >= W.ARROW_BUILD_MIN_WIDTH
    fused_df = flagship_per_query_mae(spark, events_dir, p)
    assert "FlatMapGroupsInArrow" in _plan(fused_df)
    fused = _rows(fused_df)
    monkeypatch.setattr(W, "ARROW_BUILD_MIN_WIDTH", 10**9)
    spark_df = flagship_per_query_mae(spark, events_dir, p)
    assert "FlatMapGroupsInArrow" not in _plan(spark_df)
    ref = _rows(spark_df)

    assert set(fused) == set(ref)
    for key, mae in ref.items():
        assert fused[key] == pytest.approx(mae, rel=1e-12, abs=0.0), key
    symbols = {s for s, _ in fused}
    assert 4 not in symbols  # too short for a full-future val window
    if query_symbol_mod is None:
        assert symbols == {1, 2, 3, 5, 6}
    else:
        assert symbols == {2, 6}
    assert sum(s == 2 for s, _ in fused) >= 2


def test_fused_route_zero_norm_queries_score(spark, events_dir):
    """Queries inside symbol 1's constant run are all-zero z-scored
    windows: cosine scores every candidate at the -2.0 sentinel, so
    window_id alone picks the ensemble, and the MAE stays finite."""
    rows = _rows(flagship_per_query_mae(spark, events_dir, _params("cosine")))
    sym1 = sorted(w for s, w in rows if s == 1)
    assert len(sym1) >= 3
    assert all(math.isfinite(rows[(1, w)]) for w in sym1)


def _wide_windows(spark, events_dir):
    from big_data_stock_price_forecast_spark.plans.flagship import (
        _flagship_filled,
    )

    filled = _flagship_filled(spark, events_dir, _params())
    w = sliding_windows(
        filled, L=L, pred_window=P, part_col=["symbol", "split"]
    ).localCheckpoint(eager=True)
    train = w.filter(F.col("split") == "train").drop("split")
    val = w.filter(
        (F.col("split") == "val") & (F.col("window_id") % 5 == 0)
    ).drop("split")
    return train, val


def _evaluate(train, val):
    """forecast_evaluate's per-step rows and per-query MAEs."""
    kw = dict(pred_window=P, k=5, ensemble=2, metric="l2", dim=L)
    steps = sorted(
        tuple(r)
        for r in FC.forecast_evaluate(
            train, val, return_steps=True, **kw
        ).collect()
    )
    return steps, _rows(FC.forecast_evaluate(train, val, **kw))


def test_forecast_evaluate_payload_split_matches_inline(
    spark, events_dir, monkeypatch
):
    """Serving still uses forecast_evaluate's wide-future branch (the
    query and match payloads split out of the rank sort and re-attached
    afterwards); both branches must give the same answers."""
    train, val = _wide_windows(spark, events_dir)
    assert P < FC._SPLIT_PRED_MIN
    inline_steps, inline_mae = _evaluate(train, val)
    monkeypatch.setattr(FC, "_SPLIT_PRED_MIN", 1)
    split_steps, split_mae = _evaluate(train, val)
    assert len(inline_steps) > 0
    assert split_steps == inline_steps
    assert set(split_mae) == set(inline_mae)
    for key, mae in inline_mae.items():
        assert split_mae[key] == pytest.approx(mae, rel=1e-12, abs=0.0)


def test_fullscale_flagship_matches_duckdb_oracle(spark, sf_dir):
    """flagship_fullscale_mae (L=256/P=192, the fused route) equals its
    DuckDB oracle. sf0.001 has no symbol long enough for a val window
    at this shape, so this runs at sf0.01."""
    import duckdb

    from big_data_stock_price_forecast_spark.plans.registry_ts import (
        FULLSCALE_MAE_PARAMS,
        _flagship_oracle,
        q_flagship_fullscale_mae,
    )

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    got = sorted(tuple(r) for r in q_flagship_fullscale_mae(spark, sf).collect())
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'"
        )
        want = sorted(con.sql(_flagship_oracle(FULLSCALE_MAE_PARAMS)).fetchall())
    finally:
        con.close()
    assert len(want) > 0
    assert got == want
