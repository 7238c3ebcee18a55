"""Savitzky–Golay smoothing (reference W9: ``savgol_filter(col,
window_length=21, polyorder=4)`` applied to every numeric feature
column, core/data/preprocess.py:77-96).

A Savitzky–Golay filter is a *linear* map: least-squares-fit a degree-p
polynomial over each length-w window and read off the fitted value.
That makes every output a fixed dot product of input values:

- interior points: one shared w-tap FIR kernel (the center row of the
  projection matrix),
- the first/last w//2 points (scipy's ``mode='interp'`` edge handling):
  rows of the same projection matrix applied to the first/last w
  samples — two small matrix-vector products.

The projection matrix is derived here with plain numpy (pinv of a
Vandermonde basis); no scipy dependency. :func:`savgol_smooth` is a
kernel on the per-series pass (``seriespass.series_pass``), so after the
indicator batteries it runs in the SAME Arrow pass, exact edges
included. :func:`savgol_smooth_native` keeps the interior JVM-side
(windowed array dot product, NULL edges) for plans with no pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .seriespass import series_pass


def savgol_projection(window_length: int = 21, polyorder: int = 4) -> np.ndarray:
    """The w×w least-squares projection matrix P = V·pinv(V) for the
    degree-``polyorder`` polynomial basis on positions -h..h. Row h is
    the interior FIR kernel; rows 0..h-1 (h+1..w-1) give the fitted
    values at the left (right) edge positions of a length-w block.
    """
    half = window_length // 2
    x = np.arange(-half, half + 1, dtype=np.float64)
    v = np.vander(x, polyorder + 1, increasing=True)
    return v @ np.linalg.pinv(v)


def savgol_kernel(window_length: int = 21, polyorder: int = 4) -> np.ndarray:
    return savgol_projection(window_length, polyorder)[window_length // 2]


def savgol_fn(window_length: int = 21, polyorder: int = 4):
    """``apply(y)``: full-series Savitzky–Golay with polynomial edge
    fits (the numpy restatement of scipy's ``mode='interp'``). The
    projection is computed once here; ``apply`` is built in this
    function so Spark ships it to workers by value."""
    w, h = window_length, window_length // 2
    p = savgol_projection(w, polyorder)

    def apply(y):
        y = np.asarray(y, dtype=np.float64)
        n = len(y)
        if n < w:
            # short series: one global polynomial fit (degree capped by n)
            deg = min(polyorder, n - 1)
            coef = np.polynomial.polynomial.polyfit(np.arange(n), y, deg)
            return np.polynomial.polynomial.polyval(np.arange(n), coef)
        windows = np.lib.stride_tricks.sliding_window_view(y, w)
        return np.concatenate(
            [p[:h] @ y[:w], windows @ p[h], p[h + 1 :] @ y[-w:]]
        )

    return apply


def savgol_np(
    y: np.ndarray, window_length: int = 21, polyorder: int = 4
) -> np.ndarray:
    """Full-series Savitzky–Golay with polynomial edge fits."""
    return savgol_fn(window_length, polyorder)(y)


def savgol_smooth(
    df: DataFrame,
    cols: list[str],
    part_col: str = "symbol",
    order_col: str = "time_idx",
    window_length: int = 21,
    polyorder: int = 4,
) -> DataFrame:
    """Exact Savitzky–Golay (interior + polynomial edges) for each of
    ``cols``, a kernel on the per-series pass — the escape hatch the
    reference's sequential scipy call maps to; it fuses with the
    indicator batteries that precede it. Output adds ``{col}_sg``
    columns; a NULL input value nulls every output whose window
    covers it.
    """
    apply = savgol_fn(window_length, polyorder)

    def kernel(series):
        return {f"{c}_sg": apply(series[c]) for c in cols}

    return series_pass(
        df, kernel, [f"{c}_sg" for c in cols], part_col, order_col
    )


def savgol_smooth_native(
    df: DataFrame,
    col: str,
    part_col: str = "symbol",
    order_col: str = "time_idx",
    window_length: int = 21,
    polyorder: int = 4,
) -> DataFrame:
    """Interior points natively: ``collect_list`` over the ±h row frame,
    then a sequential-fold dot product with the FIR kernel (bitwise
    reproducible against a DuckDB ``list_reduce`` oracle). Edge rows
    (incomplete frames) yield NULL — compose with :func:`savgol_smooth`
    when exact edges matter.
    """
    w = window_length
    h = w // 2
    kernel = savgol_kernel(w, polyorder)
    k_lit = F.array(*[F.lit(float(c)) for c in kernel])
    frame = (
        Window.partitionBy(part_col).orderBy(order_col).rowsBetween(-h, h)
    )
    xs = F.collect_list(F.col(col)).over(frame)
    dot = F.aggregate(
        F.zip_with(F.col("__xs"), k_lit, lambda x, c: x * c),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        df.withColumn("__xs", xs)
        .withColumn(
            f"{col}_sg", F.when(F.size("__xs") == w, dot).otherwise(F.lit(None))
        )
        .drop("__xs")
    )


def kalman_local_level(
    df: DataFrame,
    value_col: str = "close",
    q_col: str = "q_var",
    r_col: str = "r_var",
    part_col: str = "symbol",
    idx_col: str = "time_idx",
) -> DataFrame:
    """Local-level Kalman filter per series: the two-line recursion
    P⁻ = P + Q;  K = P⁻/(P⁻ + R);  l += K(x − l);  P = (1−K)P⁻
    seeded l₁ = x₁, P₁ = R — the optimal online smoother one tier up
    from EMA (whose gain is fixed; Kalman's adapts until P converges).
    Q/R ride as per-series columns so calibration joins in from any
    batch statistic. One Arrow pass per series; the recursion is
    evaluated in exactly the operand order above so a recursive-CTE
    oracle reproduces every float bitwise. Emits per-row (level,
    gain)."""
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(part_col, df.schema[part_col].dataType),
            StructField(idx_col, LongType()),
            StructField("level", DoubleType()),
            StructField("gain", DoubleType()),
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(idx_col)
        xs = pdf[value_col].to_numpy()
        qv = float(pdf[q_col].iloc[0])
        rv = float(pdf[r_col].iloc[0])
        key = pdf[part_col].iloc[0]
        levels, gains = [], []
        lvl, p = None, rv
        for x in xs:
            x = float(x)
            if lvl is None:
                lvl, k = x, 1.0
            else:
                p_pred = p + qv
                k = p_pred / (p_pred + rv)
                lvl = lvl + k * (x - lvl)
                p = (1.0 - k) * p_pred
            levels.append(lvl)
            gains.append(k)
        return pd.DataFrame(
            {
                part_col: pdf[part_col].to_numpy(),
                idx_col: pdf[idx_col].to_numpy(),
                "level": levels,
                "gain": gains,
            }
        )

    return df.groupBy(part_col).applyInPandas(fn, schema=out_schema)
