"""The per-series Arrow pass (operators/seriespass.py): the feature
chain fuses into one pass whose values equal the same calls run as
separate passes, bit for bit; the plan holds one Arrow pass and no
Window or Exchange above the gap fill; an intervening transformation
starts a new pass; kernel columns replace existing names in place; and
a kernel that needs non-null input names the column and the series.
The kernels' log is Spark's LOG bit for bit."""

from __future__ import annotations

import re
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_stock_price_forecast_spark.operators.gapfill import (
    fill_missing_time_idx,
)
from big_data_stock_price_forecast_spark.operators.rolling import (
    add_indicators,
    add_indicators2,
    add_indicators3,
    add_indicators4,
    recursive_battery_arrow,
)
from big_data_stock_price_forecast_spark.operators.seriespass import (
    frame_ops,
)
from big_data_stock_price_forecast_spark.operators.smoothing import (
    savgol_smooth,
)

KEY = ["symbol", "time_idx"]
CHAIN = (
    add_indicators,
    add_indicators2,
    add_indicators3,
    add_indicators4,
    lambda df: recursive_battery_arrow(df, derived_tail=True),
    lambda df: savgol_smooth(df, ["close"]),
)


def _raw(spark, n=120):
    """Two symbols with one missing bar each (filled by the gap fill),
    a 15-bar flat run (close = high = low) and a zero-volume bar."""
    rng = np.random.default_rng(13)
    rows = []
    for sym in ("AAA", "BBB"):
        close = np.cumsum(rng.normal(0, 1, n)) + 100
        high = close + np.abs(rng.normal(0, 0.5, n))
        low = close - np.abs(rng.normal(0, 0.5, n))
        vol = rng.integers(1, 100, n).astype(float)
        close[40:55] = high[40:55] = low[40:55] = close[40]
        vol[70] = 0.0
        rows += [
            (sym, i, float(close[i]), float(high[i]), float(low[i]),
             float(vol[i]))
            for i in range(n)
            if i != 90
        ]
    return spark.createDataFrame(
        rows,
        "symbol string, time_idx long, close double, high double,"
        " low double, volume double",
    )


def _filled(spark):
    return fill_missing_time_idx(
        _raw(spark),
        ts_col="__none__",
        fill_cols=["close", "high", "low", "volume"],
    )


def _chain(df, checkpoint=False):
    for fn in CHAIN:
        df = fn(df)
        if checkpoint:
            df = df.localCheckpoint()
    return df


def _bits(df):
    """Rows sorted by key, every double as its IEEE bit pattern."""

    def cell(v):
        return struct.pack("<d", v) if isinstance(v, float) else v

    rows = df.select(*KEY, *sorted(set(df.columns) - set(KEY))).collect()
    return sorted(tuple(cell(v) for v in r) for r in rows)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _nodes(plan: str, name: str) -> int:
    return len(re.findall(rf"(?m)^[\s:+\-*]*(?:\(\d+\) )?{name}\b", plan))


def test_fused_chain_equals_separate_passes(spark):
    base = _filled(spark).localCheckpoint()
    fused = _chain(base)
    separate = _chain(base, checkpoint=True)
    assert fused.columns == separate.columns
    assert len(fused.columns) == len(base.columns) + 86
    assert _bits(fused) == _bits(separate)


def test_chain_plans_one_arrow_pass_above_the_gap_fill(spark):
    filled = _filled(spark)
    fused = _chain(filled)
    plan, below = _plan(fused), _plan(filled)
    assert _nodes(plan, "FlatMapGroupsInArrow") == 1, plan
    assert _nodes(plan, "Window") == _nodes(below, "Window") == 1, plan
    assert _nodes(plan, "Exchange") == _nodes(below, "Exchange"), plan


def test_transformation_between_batteries_starts_a_new_pass(spark):
    base = _filled(spark).localCheckpoint()
    split = add_indicators2(
        add_indicators(base).withColumn("tag", F.lit(1))
    ).drop("tag")
    fused = add_indicators2(add_indicators(base))
    assert _nodes(_plan(split), "FlatMapGroupsInArrow") == 2
    assert _nodes(_plan(fused), "FlatMapGroupsInArrow") == 1
    assert _bits(split) == _bits(fused)


def test_existing_column_is_replaced_in_place(spark):
    base = _filled(spark).localCheckpoint()
    clash = base.select(
        "symbol", "time_idx", F.lit(-1).alias("sma20"), *base.columns[2:]
    )
    out = add_indicators(clash)
    assert out.columns.count("sma20") == 1
    assert out.columns[2] == "sma20"
    assert dict(out.dtypes)["sma20"] == "double"
    expect = add_indicators(base).select(*KEY, "sma20")
    assert _bits(out.select(*KEY, "sma20")) == _bits(expect)


def test_null_close_raises_naming_column_and_series(spark):
    base = _filled(spark).withColumn(
        "close",
        F.when(
            (F.col("symbol") == "BBB") & (F.col("time_idx") == 60), None
        ).otherwise(F.col("close")),
    )
    with pytest.raises(Exception, match=r"ValueError.*'close'.*'BBB'"):
        recursive_battery_arrow(base).collect()


def test_log_matches_spark_log_bitwise(spark):
    rng = np.random.default_rng(5)
    x = np.concatenate([
        np.exp(rng.normal(0.0, 0.02, 4000)),  # log returns
        np.exp(rng.uniform(-745.0, 709.0, 2000)),  # every exponent
        1.0 + rng.normal(0.0, 1e-7, 1000),  # |f| < 2**-20 branch
        [1.0, 2.0, 5e-324, 1e-310, 1.7e308, np.inf, 0.0, -1.0],
    ])
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(x)], "i long, x double"
    )
    got = [r[0] for r in df.orderBy("i").select(F.log("x")).collect()]
    want = [None if np.isnan(v) else float(v) for v in frame_ops().log(x)]
    assert [struct.pack("<d", v) if v is not None else v for v in got] == [
        struct.pack("<d", v) if v is not None else v for v in want
    ]
