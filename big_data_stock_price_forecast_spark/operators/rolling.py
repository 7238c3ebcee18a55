"""Rolling / technical-analysis indicators (SURVEY.md §2.5 W3/W4/W12).

The reference pulls ~85 indicators from the `ta` package
(core/data/preprocess.py:11-16, optional surface) plus explicit SMA
50/100/200 (preprocess.py:46-51) and EMA (preprocess.py:52-54). Here
the batteries (:func:`add_indicators` /2/3/4 and
:func:`recursive_battery_arrow`) and the EMA family (:func:`ewm_smooth`,
:func:`garch_filter`, :func:`macd`, :func:`trend_battery_arrow`) are
NumPy kernels on ``seriespass.series_pass``: one
``groupBy(symbol).applyInArrow`` pass per series that sorts the rows
once. Consecutive calls fuse into ONE pass (see ``seriespass``), so the
whole feature chain — five batteries and Savitzky–Golay — is one Arrow
pass with no ``Window`` and no exchange of its own. The small
single-indicator helpers (:func:`sma`, :func:`rolling_corr`,
:func:`add_indicators5`, the lag-derived inputs of :func:`rsi` /
:func:`atr`) stay JVM window expressions.

Numeric contracts (what the DuckDB oracles mirror):
- Frame sums and averages are left folds over the frame in frame
  order — Spark's no-retraction sliding-frame re-aggregation; running
  sums are sequential ``np.cumsum``; ``stddev_pop`` follows Spark's
  ``CentralMomentAgg`` update order; row-number guards are index
  comparisons (``seriespass.frame_ops``).
- EMA: pandas ``ewm(span, adjust=False)`` recursion
  ``y_t = (1-a)*y_{t-1} + a*x_t`` seeded ``y_0 = x_0``; evaluated in
  exactly that operand order so the DuckDB oracle (sequential
  ``list_reduce`` over a prefix list) reproduces it bitwise.
- Rolling stddev is population (ddof=0), matching the reference's
  z-score convention.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from .seriespass import frame_ops, series_pass


def _base(part_col: str, idx_col: str) -> Window:
    return Window.partitionBy(part_col).orderBy(idx_col)


def sma(
    df: DataFrame,
    value_col: str = "close",
    n: int = 20,
    out_col: str | None = None,
    part_col: str = "symbol",
    idx_col: str = "time_idx",
) -> DataFrame:
    """Simple moving average, null for the first n-1 rows (W3)."""
    w = _base(part_col, idx_col)
    frame = w.rowsBetween(-(n - 1), 0)
    rn = F.row_number().over(w)
    return df.withColumn(
        out_col or f"sma{n}",
        F.when(rn >= n, F.avg(value_col).over(frame)),
    )


def rolling_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n: int = 20,
    out_col: str | None = None,
    part_col: str = "symbol",
    idx_col: str = "time_idx",
    var_floor: float = 1e-12,
) -> DataFrame:
    """Rolling Pearson correlation between two series over the trailing
    ``n`` rows — the pairwise-comovement window a quant pipeline runs
    beside the indicator battery (the reference's `ta` surface has
    rolling correlation via pandas `rolling().corr()`).

    Numeric contract: the five frame sums (Σx, Σy, Σxy, Σx², Σy²) are
    SEQUENTIAL LEFT FOLDS over the collected frame list — not engine
    window-sum accumulators, whose add/remove sliding optimizations
    drift for floats — so the DuckDB oracle (``list_reduce`` over
    ``list(...) OVER frame``) reproduces every sum bitwise, and the
    closed-form correlation computed from identical doubles is
    identical. Null until the frame is full or while either variance
    sits below ``var_floor`` (constant series)."""
    w = _base(part_col, idx_col)
    frame = w.rowsBetween(-(n - 1), 0)
    rn = F.row_number().over(w)
    out = df.withColumn(
        "__cxs", F.collect_list(F.col(x_col)).over(frame)
    ).withColumn("__cys", F.collect_list(F.col(y_col)).over(frame))
    add = lambda a, v: a + v  # noqa: E731
    sx = F.aggregate(F.col("__cxs"), F.lit(0.0), add)
    sy = F.aggregate(F.col("__cys"), F.lit(0.0), add)
    sxx = F.aggregate(F.col("__cxs"), F.lit(0.0), lambda a, v: a + v * v)
    syy = F.aggregate(F.col("__cys"), F.lit(0.0), lambda a, v: a + v * v)
    sxy = F.aggregate(
        F.zip_with("__cxs", "__cys", lambda x, y: x * y),
        F.lit(0.0),
        add,
    )
    nn = F.lit(float(n))
    cov = nn * sxy - sx * sy
    vx = nn * sxx - sx * sx
    vy = nn * syy - sy * sy
    corr = F.when(
        (rn >= n) & (vx > var_floor) & (vy > var_floor),
        cov / F.sqrt(vx * vy),
    )
    return out.withColumn(out_col or f"corr{n}", corr).drop(
        "__cxs", "__cys"
    )


def holt_linear(
    df: DataFrame,
    value_col: str = "close",
    alpha: float = 0.3,
    beta: float = 0.1,
    part_col: str = "symbol",
    idx_col: str = "time_idx",
) -> DataFrame:
    """Holt's linear-trend exponential smoothing, fit per series: the
    coupled recursion l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}, seeded l₁=x₁, b₁=x₂−x₁ —
    the classic double-smoothing forecaster (ŷ_{n+h} = l_n + h·b_n)
    one tier up from the reference's EMA family. Two coupled
    recursions cannot be window functions; ONE Arrow pass per series
    carries both, evaluated in exactly the operand order above so the
    DuckDB recursive-CTE oracle reproduces the floats bitwise. Emits
    one (level, trend, n_fit) row per series — scalars, not rows — so
    the output is series-count-sized. Series with fewer than 2 points
    emit NO row (the trend seed b₁=x₂−x₁ needs two observations —
    the same convention as the recursive-CTE oracle, whose seed joins
    rn=1 to rn=2)."""
    from pyspark.sql.types import LongType

    out_schema = StructType(
        [
            StructField(part_col, df.schema[part_col].dataType),
            StructField("n_fit", LongType()),
            StructField("level", DoubleType()),
            StructField("trend", DoubleType()),
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(idx_col)
        xs = pdf[value_col].to_numpy()
        key = pdf[part_col].iloc[0]
        if len(xs) < 2:
            # no fit row for degenerate series: the oracle's
            # recursive-CTE seed requires rn=2, so a (x1, 0.0) row
            # here would be an engine-only invention
            return pd.DataFrame(
                {part_col: pd.Series([], dtype=pdf[part_col].dtype),
                 "n_fit": pd.Series([], dtype="int64"),
                 "level": pd.Series([], dtype="float64"),
                 "trend": pd.Series([], dtype="float64")}
            )
        lvl, b = float(xs[0]), float(xs[1]) - float(xs[0])
        for x in xs[1:]:
            x = float(x)
            new_l = alpha * x + (1.0 - alpha) * (lvl + b)
            b = beta * (new_l - lvl) + (1.0 - beta) * b
            lvl = new_l
        return pd.DataFrame(
            {part_col: [key], "n_fit": [len(xs)],
             "level": [lvl], "trend": [b]}
        )

    return df.groupBy(part_col).applyInPandas(fn, schema=out_schema)


def holt_winters_arrow(
    df: DataFrame,
    value_col: str = "close",
    alpha: float = 0.2,
    beta: float = 0.1,
    gamma: float = 0.3,
    period: int = 4,
    part_col: str = "symbol",
    idx_col: str = "time_idx",
) -> DataFrame:
    """Additive Holt-Winters per series — the seasonal tier above
    :func:`holt_linear`: level/trend/seasonal triple smoothing
    l_t = α(x_t − s_{t−p}) + (1−α)(l_{t−1}+b_{t−1}),
    b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1},
    s_t = γ(x_t − l_t) + (1−γ)s_{t−p}, seeded l₁=x₁, b₁=0, s≡0 (the
    zero-seasonal seed keeps the first cycle defined and is mirrored
    in the recursive-CTE oracle's base row). Emits the FULL fitted
    series: per row the updated level/trend, this bar's seasonal, and
    the one-step-ahead in-sample forecast
    ŷ_t = l_{t−1} + b_{t−1} + s_{t−p} (null on the seed row). Three
    coupled recursions with a lag-p state ring cannot be window
    functions; one Arrow pass per series carries all p+2 states in
    exactly the oracle's operand order."""
    out_schema = StructType(
        [
            StructField(part_col, df.schema[part_col].dataType),
            StructField(idx_col, df.schema[idx_col].dataType),
            StructField("hw_level", DoubleType()),
            StructField("hw_trend", DoubleType()),
            StructField("hw_seasonal", DoubleType()),
            StructField("hw_fitted", DoubleType()),
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(idx_col)
        xs = pdf[value_col].to_numpy()
        n = len(xs)
        lv = [0.0] * n
        tr = [0.0] * n
        se = [0.0] * n
        ft: list = [None] * n
        lvl, b = float(xs[0]), 0.0
        s = [0.0] * period
        lv[0], tr[0], se[0] = lvl, b, s[0]
        for i in range(1, n):
            x = float(xs[i])
            ph = i % period
            sold = s[ph]
            ft[i] = lvl + b + sold
            new_l = alpha * (x - sold) + (1.0 - alpha) * (lvl + b)
            b = beta * (new_l - lvl) + (1.0 - beta) * b
            s[ph] = gamma * (x - new_l) + (1.0 - gamma) * sold
            lvl = new_l
            lv[i], tr[i], se[i] = lvl, b, s[ph]
        return pd.DataFrame(
            {
                part_col: pdf[part_col].to_numpy(),
                idx_col: pdf[idx_col].to_numpy(),
                "hw_level": lv,
                "hw_trend": tr,
                "hw_seasonal": se,
                "hw_fitted": ft,
            }
        )

    return df.groupBy(part_col).applyInPandas(fn, schema=out_schema)


def add_indicators(
    df: DataFrame,
    part_col: str = "symbol",
    idx_col: str = "time_idx",
    close_col: str = "close",
    high_col: str = "high",
    low_col: str = "low",
    volume_col: str = "volume",
    bb_n: int = 20,
    roc_n: int = 12,
    willr_n: int = 14,
    don_n: int = 20,
    vwap_n: int = 20,
) -> DataFrame:
    """First battery, a kernel on the per-series pass (fuses with the
    other batteries and Savitzky–Golay into one pass):

    - ``ret`` / ``logret``: simple and log returns
    - ``sma{bb_n}``, ``bb_upper``/``bb_lower``: Bollinger bands
      (SMA ± 2·stddev_pop)
    - ``roc{roc_n}``: rate of change, percent
    - ``obv``: on-balance volume (cumulative signed volume)
    - ``vwap{vwap_n}``: rolling volume-weighted average price
    - ``willr{willr_n}``: Williams %R
    - ``don_upper``/``don_lower``/``don_mid``: Donchian channel

    Close/high/low must be non-null (gap-filled; a NULL raises
    ``ValueError``); a NULL volume counts as 1.0. Zero denominators (flat ranges, zero prices, an all-zero
    volume frame) yield NULL.
    """
    ops = frame_ops()
    names = [
        "ret", "logret", f"sma{bb_n}", "bb_upper", "bb_lower",
        f"roc{roc_n}", "obv", f"vwap{vwap_n}", f"willr{willr_n}",
        "don_upper", "don_lower", "don_mid",
    ]

    def kernel(cols):
        c, h, lo = (cols.need(x) for x in (close_col, high_col, low_col))
        vnz = ops.coalesce(cols[volume_col], 1.0)
        prev = ops.lag(c)
        mid, sd = ops.favg(c, bb_n), ops.fstd(c, bb_n)
        hh, ll = ops.fmax(h, willr_n), ops.fmin(lo, willr_n)
        du, dl = ops.fmax(h, don_n), ops.fmin(lo, don_n)
        logret = np.where((c > 0) & (prev > 0), ops.log(c / prev), np.nan)
        vwap = ops.div(ops.fsum(c * vnz, vwap_n), ops.fsum(vnz, vwap_n))
        return dict(zip(names, (
            ops.div(c, prev) - 1.0,
            logret,
            ops.guard(mid, bb_n),
            ops.guard(mid + 2.0 * sd, bb_n),
            ops.guard(mid - 2.0 * sd, bb_n),
            100.0 * (ops.div(c, ops.lag(c, roc_n)) - 1.0),
            ops.cumsum(np.sign(c - prev) * vnz),
            vwap,
            ops.guard(ops.div(-100.0 * (hh - c), hh - ll), willr_n),
            ops.guard(du, don_n),
            ops.guard(dl, don_n),
            ops.guard((du + dl) / 2.0, don_n),
        )))

    return series_pass(df, kernel, names, part_col, idx_col)


def ewm_smooth(
    df: DataFrame,
    alphas: dict[str, tuple[str, float]],
    part_col: str = "symbol",
    idx_col: str = "time_idx",
) -> DataFrame:
    """Exponential smoothing of one or more columns, a kernel on the
    per-series pass.

    ``alphas`` maps output column -> (input column, alpha). Recursion
    ``y = (1-a)*y + a*x`` seeded with the first non-null input value;
    a null input carries the state and emits null (W4 escape hatch —
    SURVEY.md §2.5: not expressible as a finite-frame window).
    """
    ops = frame_ops()
    items = [(out, src, float(a)) for out, (src, a) in alphas.items()]

    def kernel(cols):
        return {
            out: ops.on_valid(cols[src], lambda x, a=a: ops.ewm(x, a))
            for out, src, a in items
        }

    return series_pass(df, kernel, list(alphas), part_col, idx_col)


def garch_filter(
    df: DataFrame,
    r2_col: str = "r2",
    out_col: str = "v",
    omega: float = 1e-6,
    alpha: float = 0.05,
    beta: float = 0.90,
    part_col: str = "symbol",
    idx_col: str = "time_idx",
) -> DataFrame:
    """GARCH(1,1) conditional-variance filter (fixed parameters, no
    fitting): ``v_t = omega + alpha*r2_t + beta*v_{t-1}`` seeded with
    the first non-null squared return (``v = r2``, the same
    RiskMetrics-style seed as the EWMA vol twin). A kernel on the
    per-series pass — the affine recursion's infinite memory is the
    same W4 escape-hatch shape as :func:`ewm_smooth`; evaluated in
    exactly the operand order written above so a DuckDB recursive CTE
    consuming the same grid-snapped ``r2`` reproduces ``v`` bitwise.
    Null input carries state and emits null."""
    ops = frame_ops()
    o, a, b = float(omega), float(alpha), float(beta)

    def garch(xs):
        xs = xs.tolist()
        ys = [xs[0]]
        for x in xs[1:]:
            ys.append(o + a * x + b * ys[-1])
        return np.array(ys)

    def kernel(cols):
        return {out_col: ops.on_valid(cols[r2_col], garch)}

    return series_pass(df, kernel, [out_col], part_col, idx_col)


def ema(
    df: DataFrame,
    value_col: str = "close",
    span: int = 20,
    out_col: str | None = None,
    part_col: str = "symbol",
    idx_col: str = "time_idx",
) -> DataFrame:
    """EMA with pandas ``span`` convention: alpha = 2/(span+1)."""
    return ewm_smooth(
        df,
        {out_col or f"ema{span}": (value_col, 2.0 / (span + 1))},
        part_col,
        idx_col,
    )


def macd(
    df: DataFrame,
    value_col: str = "close",
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    part_col: str = "symbol",
    idx_col: str = "time_idx",
) -> DataFrame:
    """MACD line, signal line, histogram (classic 12/26/9), a kernel on
    the per-series pass.

    The signal line is an EMA *of the macd line*, i.e. a chained
    recursion over the same non-null rows as the two price EMAs; the
    operand order matches the oracle's two-stage fold exactly. A null
    input carries every state and emits nulls.
    """
    ops = frame_ops()
    a_f, a_s, a_sig = (
        2.0 / (fast + 1),
        2.0 / (slow + 1),
        2.0 / (signal + 1),
    )
    names = [f"ema{fast}", f"ema{slow}", "macd", "macd_signal", "macd_hist"]

    def kernel(cols):
        x = cols[value_col]
        ef = ops.on_valid(x, lambda v: ops.ewm(v, a_f))
        es = ops.on_valid(x, lambda v: ops.ewm(v, a_s))
        md = ef - es
        sig = ops.on_valid(md, lambda v: ops.ewm(v, a_sig))
        return dict(zip(names, (ef, es, md, sig, md - sig)))

    return series_pass(df, kernel, names, part_col, idx_col)


def rsi(
    df: DataFrame,
    value_col: str = "close",
    n: int = 14,
    part_col: str = "symbol",
    idx_col: str = "time_idx",
) -> DataFrame:
    """RSI with Wilder smoothing (ewm alpha=1/n over gains/losses),
    100 - 100/(1+rs); 100 when the loss average is zero."""
    w = _base(part_col, idx_col)
    d = F.col(value_col) - F.lag(value_col).over(w)
    out = df.withColumn("__gain", F.greatest(d, F.lit(0.0))).withColumn(
        "__loss", F.greatest(-d, F.lit(0.0))
    )
    out = ewm_smooth(
        out,
        {"__ag": ("__gain", 1.0 / n), "__al": ("__loss", 1.0 / n)},
        part_col,
        idx_col,
    )
    rsi_col = F.when(F.col("__al") == 0.0, F.lit(100.0)).otherwise(
        100.0 - 100.0 / (1.0 + F.col("__ag") / F.col("__al"))
    )
    return out.withColumn(f"rsi{n}", rsi_col).drop(
        "__gain", "__loss", "__ag", "__al"
    )


def atr(
    df: DataFrame,
    n: int = 14,
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
    part_col: str = "symbol",
    idx_col: str = "time_idx",
) -> DataFrame:
    """Average True Range: Wilder ewm (alpha=1/n) over the true range
    ``max(h-l, |h-prev_c|, |l-prev_c|)`` (greatest skips the null
    prev_c on the first row)."""
    w = _base(part_col, idx_col)
    pc = F.lag(close_col).over(w)
    tr = F.greatest(
        F.col(high_col) - F.col(low_col),
        F.abs(F.col(high_col) - pc),
        F.abs(F.col(low_col) - pc),
    )
    out = df.withColumn("__tr", tr)
    out = ewm_smooth(out, {f"atr{n}": ("__tr", 1.0 / n)}, part_col, idx_col)
    return out.drop("__tr")


def add_indicators2(
    df: DataFrame,
    part_col: str = "symbol",
    idx_col: str = "time_idx",
    close_col: str = "close",
    high_col: str = "high",
    low_col: str = "low",
    volume_col: str = "volume",
    stoch_n: int = 14,
    stoch_d: int = 3,
    cci_n: int = 20,
    mfi_n: int = 14,
    ichi_conv: int = 9,
    ichi_base: int = 26,
) -> DataFrame:
    """Second battery, a kernel on the per-series pass:

    - ``stoch_k``/``stoch_d``: Stochastic oscillator %K (close within
      the n-period high/low range) and its ``stoch_d``-SMA signal
    - ``cci{cci_n}``: Commodity Channel Index —
      (tp − SMA(tp)) / (0.015 · mean |tp − SMA(tp)| over the window);
      the mean absolute deviation is around the CURRENT window's SMA,
      a sequential fold over the frame (oracle-matched)
    - ``mfi{mfi_n}``: Money Flow Index — ratio of up-flow to down-flow
      typical-price·volume sums over the window
    - ``ichi_conv``/``ichi_base``: Ichimoku conversion/base lines —
      midpoints of the n-period high/low range

    Close/high/low must be non-null (a NULL raises ``ValueError``); a
    NULL volume drops that bar's flow from the MFI sums.
    """
    ops = frame_ops()
    names = [
        "stoch_k", "stoch_d", f"cci{cci_n}", f"mfi{mfi_n}",
        "ichi_conv", "ichi_base",
    ]

    def kernel(cols):
        c, h, lo = (cols.need(x) for x in (close_col, high_col, low_col))
        v = cols[volume_col]
        tp = (h + lo + c) / 3.0
        hh, ll = ops.fmax(h, stoch_n), ops.fmin(lo, stoch_n)
        k = ops.guard(ops.div(100.0 * (c - ll), hh - ll), stoch_n)

        # mean |tp - SMA| around the current frame's SMA: fold over
        # full frames (partial ones are guarded away below)
        sma = ops.favg(tp, cci_n)
        tpp = np.concatenate([np.zeros(cci_n - 1), tp])
        acc = np.zeros(tp.size)
        for j in range(cci_n):
            acc = acc + np.abs(tpp[j : j + tp.size] - sma)
        cci = ops.div(tp - sma, 0.015 * (acc / cci_n))

        prev_tp = ops.lag(tp)
        pf = np.where(tp > prev_tp, tp * v, 0.0)
        nf = np.where(tp < prev_tp, tp * v, 0.0)
        pf_sum, nf_sum = ops.fsum(pf, mfi_n), ops.fsum(nf, mfi_n)
        mfi = np.where(
            nf_sum == 0.0, 100.0, 100.0 - 100.0 / (1.0 + pf_sum / nf_sum)
        )
        conv = (ops.fmax(h, ichi_conv) + ops.fmin(lo, ichi_conv)) / 2.0
        base = (ops.fmax(h, ichi_base) + ops.fmin(lo, ichi_base)) / 2.0
        return dict(zip(names, (
            k,
            ops.guard(ops.favg(k, stoch_d), stoch_n + stoch_d - 1),
            ops.guard(cci, cci_n),
            ops.guard(mfi, mfi_n + 1),
            ops.guard(conv, ichi_conv),
            ops.guard(base, ichi_base),
        )))

    return series_pass(df, kernel, names, part_col, idx_col)


def add_indicators3(
    df: DataFrame,
    part_col: str = "symbol",
    idx_col: str = "time_idx",
    close_col: str = "close",
    high_col: str = "high",
    low_col: str = "low",
    volume_col: str = "volume",
    aroon_n: int = 25,
    vortex_n: int = 14,
    cmf_n: int = 20,
    eom_n: int = 14,
    dpo_n: int = 20,
) -> DataFrame:
    """Third battery (W12 long tail), a kernel on the per-series pass:

    - ``aroon_up``/``aroon_down``: 100·pos-of-extreme/(n−1) over the
      n-bar frame (first occurrence of the extreme, both engines'
      array-position semantics)
    - ``vortex_pos``/``vortex_neg``: n-bar sums of |h−prev_l| resp.
      |l−prev_h| over the true-range sum
    - ``cmf{cmf_n}``: Chaikin Money Flow — money-flow-volume sum over
      volume sum
    - ``adi``: Accumulation/Distribution Index (cumulative money-flow
      volume)
    - ``eom{eom_n}``: SMA of the Ease-of-Movement value
      (mid-point move · range / volume; first move taken as 0)
    - ``uo``: Ultimate Oscillator 7/14/28 (buying-pressure ratios
      weighted 4/2/1)
    - ``dpo{dpo_n}``: close displaced n/2+1 back minus the n-SMA
    - ``kst``/``kst_sig``: Know-Sure-Thing — weighted sum of smoothed
      ROC(10/15/20/30) and its 9-SMA signal
    - ``ichi_span_a``/``ichi_span_b``: Ichimoku leading spans plotted
      26 forward (values from 26 bars back); ``ichi_lagging``: close
      plotted 26 back (value from 26 bars ahead, null at the tail)
    - ``ao``: Awesome Oscillator — SMA(5) − SMA(34) of the bar midpoint
    - ``wma9``: linearly-weighted moving average (weights 9..1)
    - ``vpt``: Volume-Price Trend (cumulative volume · pct-change;
      first move taken as 0)
    - ``cret``: cumulative return vs the series' first close, percent
    - ``ui14``: Ulcer Index — RMS of the 14-bar percent drawdown from
      the 14-bar high

    Close/high/low must be non-null (a NULL raises ``ValueError``);
    NULL volumes drop out of the volume sums (and count as no move in
    the ease-of-movement and volume-price-trend inputs).
    """
    ops = frame_ops()
    names = [
        "aroon_up", "aroon_down", "vortex_pos", "vortex_neg",
        f"cmf{cmf_n}", "adi", f"eom{eom_n}", "uo", f"dpo{dpo_n}",
        "ao", "wma9", "vpt", "cret", "ichi_span_a", "ichi_span_b",
        "ichi_lagging", "kst", "ui14", "kst_sig",
    ]

    def kernel(cols):
        c, h, lo = (cols.need(x) for x in (close_col, high_col, low_col))
        v = cols[volume_col]
        pc, ph, pl = ops.lag(c), ops.lag(h), ops.lag(lo)
        fsum, guard, div = ops.fsum, ops.guard, ops.div

        # aroon: position (0-based) of the first occurrence of the
        # frame extreme, scaled; ta convention "bars since" is
        # (n-1) - pos, we keep pos-based which is its mirror
        a_up = 100.0 * ops.argext(h, aroon_n, np.argmax) / (aroon_n - 1)
        a_dn = 100.0 * ops.argext(lo, aroon_n, np.argmin) / (aroon_n - 1)

        tr = np.fmax(np.fmax(h - lo, np.abs(h - pc)), np.abs(lo - pc))
        vm_pos = ops.coalesce(np.abs(h - pl), 0.0)
        vm_neg = ops.coalesce(np.abs(lo - ph), 0.0)
        # money-flow volume; flat bars contribute 0
        mfv = np.where(h != lo, ((c - lo) - (h - c)) / (h - lo) * v, 0.0)
        emv = ops.coalesce(
            div(((h + lo) / 2.0 - (ph + pl) / 2.0) * (h - lo), v), 0.0
        )
        bp = c - np.fmin(lo, pc)
        tr_uo = np.fmax(h, pc) - np.fmin(lo, pc)
        mid = (h + lo) / 2.0
        vr = ops.coalesce(div(c - pc, pc) * v, 0.0)
        uo_a = {n: div(fsum(bp, n), fsum(tr_uo, n)) for n in (7, 14, 28)}
        trs = fsum(tr, vortex_n)
        # zero-denominator ROC taken as 0.0 (not NULL): the KST
        # smoothing frames stay null-free, as in the oracle's fold
        roc = {
            n: ops.coalesce(100.0 * (div(c, ops.lag(c, n)) - 1.0), 0.0)
            for n in (10, 15, 20, 30)
        }
        wma = 9.0 * c
        for k in range(1, 9):
            wma = wma + (9.0 - k) * ops.lag(c, k)
        # squared pct drawdown vs the 14-bar high; coalesce keeps the
        # column null-free so the frame sum sees every bar
        mx = ops.fmax(c, 14)
        dd = div(100.0 * (c - mx), mx)
        uir2 = ops.coalesce(dd * dd, 0.0)
        span_a = (ops.fmax(h, 9) + ops.fmin(lo, 9)) / 2.0 / 2.0 + (
            ops.fmax(h, 26) + ops.fmin(lo, 26)
        ) / 2.0 / 2.0
        span_b = (ops.fmax(h, 52) + ops.fmin(lo, 52)) / 2.0
        kst = guard(
            1.0 * ops.favg(roc[10], 10)
            + 2.0 * ops.favg(roc[15], 10)
            + 3.0 * ops.favg(roc[20], 10)
            + 4.0 * ops.favg(roc[30], 15),
            45,
        )
        return dict(zip(names, (
            guard(a_up, aroon_n),
            guard(a_dn, aroon_n),
            guard(div(fsum(vm_pos, vortex_n), trs), vortex_n + 1),
            guard(div(fsum(vm_neg, vortex_n), trs), vortex_n + 1),
            guard(div(fsum(mfv, cmf_n), fsum(v, cmf_n)), cmf_n),
            ops.cumsum(mfv),
            guard(ops.favg(emv, eom_n), eom_n + 1),
            guard(
                100.0 * (4.0 * uo_a[7] + 2.0 * uo_a[14] + uo_a[28]) / 7.0,
                28,
            ),
            guard(ops.lag(c, dpo_n // 2 + 1) - ops.favg(c, dpo_n), dpo_n),
            guard(fsum(mid, 5) / 5.0 - fsum(mid, 34) / 34.0, 34),
            guard(wma / 45.0, 9),
            ops.cumsum(vr),
            100.0 * (div(c, np.full(c.size, c[0] if c.size else 0.0)) - 1.0),
            guard(ops.lag(span_a, 26), 26 + 26),
            guard(ops.lag(span_b, 26), 52 + 26),
            ops.lead(c, 26),
            kst,
            guard(np.sqrt(fsum(uir2, 14) / 14.0), 14),
            guard(ops.favg(kst, 9), 53),
        )))

    return series_pass(df, kernel, names, part_col, idx_col)


def recursive_battery_arrow(
    df: DataFrame,
    close_col: str = "close",
    high_col: str = "high",
    low_col: str = "low",
    volume_col: str = "volume",
    part_col: str = "symbol",
    idx_col: str = "time_idx",
    derived_tail: bool = False,
) -> DataFrame:
    """EVERY recursive (infinite-memory) indicator, a kernel on the
    per-series pass (so it shares one pass with the frame batteries and
    Savitzky–Golay):

    - ``ema12``/``ema26``/``macd``/``macd_signal``/``macd_hist``
    - ``rsi14`` (Wilder ewm over gains/losses)
    - ``atr14`` (Wilder ewm over true range)
    - ``trix15`` (EMA of EMA of EMA, 1-step %change)
    - ``ppo`` (100·(ema12−ema26)/ema26)
    - ``kelt_mid``/``kelt_upper``/``kelt_lower`` (EMA20 ± 2·ATR10)
    - ``adx14``/``di_pos14``/``di_neg14`` (Wilder ±DM/TR smoothing; the
      warm-up is the pure seeded-ewm recursion, a documented deviation
      from ta's n-bar-sum warm-up, so the staged-fold oracle matches)
    - ``force13`` (EMA-13 of (Δclose)·volume, first Δ taken as 0)
    - ``tsi`` (True Strength Index — EMA-13 of EMA-25 of momentum over
      the same double-smoothing of |momentum|, ×100)
    - ``pvo`` (Percentage Volume Oscillator — 100·(EMA12−EMA26)/EMA26
      of volume)
    - ``mass_idx`` (Mass Index — 25-bar sum of EMA9(high−low) /
      EMA9(EMA9(high−low)); partial frames emit from the first bar)
    - ``kama`` (Kaufman adaptive MA 10/2/30 — per-step smoothing
      constant from the efficiency ratio; er taken as 0 for the first
      10 bars)
    - ``nvi`` (Negative Volume Index, base 1000 — compounds pct-change
      only on volume-down bars)
    - ``stoch_rsi`` (Stochastic RSI — position of RSI-14 in its 14-bar
      min/max range; null until 14 RSI values exist or on a flat range)
    - ``psar``/``psar_dir`` (Parabolic SAR, 0.02/0.02/0.2 — Wilder's
      trend-following stop-and-reverse state machine: SAR steps toward
      the extreme point by the accelerating factor, clamped to the two
      prior lows (uptrend) / highs (downtrend); price crossing the SAR
      flips the trend, resetting SAR to the prior extreme. Seeded at
      the first bar as an uptrend with SAR=low, EP=high. dir is +-1.0)
    - ``stc`` (Schaff Trend Cycle over the battery's 12/26 MACD —
      10-bar stochastic of MACD, EMA(alpha=.5)-smoothed, re-stochastic,
      re-smoothed; flat stochastic ranges emit the 50.0 midpoint)
    - ``ppo_signal``/``pvo_signal`` (EMA-9 of the PPO / PVO lines —
      the ``ta`` signal columns; the recursion input falls back to 0.0
      on a zero EMA-26 denominator so the seeded fold stays defined,
      while the emitted ``ppo``/``pvo`` stay null there, matching the
      oracle's CASE arms exactly)

    With ``derived_tail=True`` the kernel ALSO emits the ta derived-
    column tail (``ppo_hist``/``pvo_hist``, ``kc_width``/``kc_pband``,
    ``stochrsi_k``/``stochrsi_d``, ``psar_up``/``psar_down`` +
    flip indicators). These are frame-expressible (see
    :func:`add_indicators5`, the composable native twin, cross-pinned
    equal in tests), but a Window over the pass's output would
    re-shuffle the whole battery frame just to re-group what the pass
    already holds sorted in memory. Arithmetic matches the native twin
    bitwise (the 3-SMAs fold ``((0+x1)+x2)+x3`` in frame order,
    exactly Spark's no-retraction sliding-sum order and the oracle's
    ``list_reduce`` fold).

    Inputs must be gap-filled: a NULL close/high/low/volume raises
    ``ValueError`` naming the column and the series (a recursion would
    carry it through the rest of the series). Every recursion is
    ``y=(1-a)y+ax`` seeded with its input's first value, operand order
    identical to the DuckDB oracle's staged sequential folds
    (bitwise-reproducible); the lag-derived inputs and the emitted
    arithmetic are NumPy expressions in the same operand order.
    """
    ops = frame_ops()
    names = [
        "ema12", "ema26", "macd", "macd_signal", "macd_hist", "rsi14",
        "atr14", "trix15", "ppo", "kelt_mid", "kelt_upper", "kelt_lower",
        "adx14", "di_pos14", "di_neg14", "force13",
        "tsi", "pvo", "mass_idx", "kama", "nvi", "stoch_rsi",
        "psar", "psar_dir", "stc", "ppo_signal", "pvo_signal",
    ]
    if derived_tail:
        names += [
            "ppo_hist", "pvo_hist", "kc_width", "kc_pband",
            "stochrsi_k", "stochrsi_d", "psar_up", "psar_down",
            "psar_up_ind", "psar_down_ind",
        ]

    a12, a26, a9 = 2.0 / 13.0, 2.0 / 27.0, 2.0 / 10.0
    aw = 1.0 / 14.0
    a15 = 2.0 / 16.0
    ak, aka = 2.0 / 21.0, 1.0 / 10.0
    af = 2.0 / 14.0
    a25t, a13t = 2.0 / 26.0, 2.0 / 14.0
    am9 = 2.0 / 10.0

    def kama_loop(x, sc):
        xs, scs = x.tolist(), sc.tolist()
        out = [xs[0]]
        for i in range(1, len(xs)):
            k = out[-1]
            out.append(k + scs[i] * (xs[i] - k))
        return out

    def nvi_loop(down, r):
        out = [1000.0]
        for i in range(1, len(down)):
            out.append(out[-1] * (1.0 + r[i]) if down[i] else out[-1])
        return out

    def psar_loop(highs, lows):
        # Wilder's state machine, arithmetic in the exact operand order
        # of the oracle's struct fold so the floats match bitwise
        n = len(highs)
        sar, up = [0.0] * n, [True] * n
        p_sar, p_ep, p_af, p_up = lows[0], highs[0], 0.02, True
        sar[0] = p_sar
        for i in range(1, n):
            hi, lw = highs[i], lows[i]
            base = p_sar + p_af * (p_ep - p_sar)
            if p_up:
                pl1 = lows[i - 1]
                pl2 = lows[i - 2] if i >= 2 else pl1
                s1 = min(base, pl1, pl2)
                if lw < s1:
                    p_sar, p_ep, p_af, p_up = p_ep, lw, 0.02, False
                else:
                    if hi > p_ep:
                        p_af = min(p_af + 0.02, 0.2)
                    p_sar, p_ep = s1, max(p_ep, hi)
            else:
                ph1 = highs[i - 1]
                ph2 = highs[i - 2] if i >= 2 else ph1
                s1 = max(base, ph1, ph2)
                if hi > s1:
                    p_sar, p_ep, p_af, p_up = p_ep, hi, 0.02, True
                else:
                    if lw < p_ep:
                        p_af = min(p_af + 0.02, 0.2)
                    p_sar, p_ep = s1, min(p_ep, lw)
            sar[i], up[i] = p_sar, p_up
        return np.array(sar), np.array(up)

    def kernel(cols):
        c, h, lo, v = (
            cols.need(x) for x in (close_col, high_col, low_col, volume_col)
        )
        n = c.size
        ewm, where, nan = ops.ewm, np.where, np.nan
        pc = ops.lag(c)
        d = c - pc
        tr = np.fmax(np.fmax(h - lo, np.abs(h - pc)), np.abs(lo - pc))
        up_m, dn_m = h - ops.lag(h), ops.lag(lo) - lo
        pdm = where((up_m > dn_m) & (up_m > 0), up_m, 0.0)
        ndm = where((dn_m > up_m) & (dn_m > 0), dn_m, 0.0)
        mom = ops.coalesce(d, 0.0)
        amom = np.abs(mom)
        # KAMA smoothing constant: efficiency ratio over the 10-bar
        # abs-move sum, squared-blended between the fast (2/3) and slow
        # (2/31) constants; er is 0 for the first 10 bars so the seeded
        # recursion warms up at the slow constant
        kden = ops.fsum(amom, 10)
        k10 = np.abs(c - ops.lag(c, 10))
        er = where(
            (np.arange(1, n + 1) > 10) & (kden != 0.0), k10 / kden, 0.0
        )
        sc_b = er * (2.0 / 3.0 - 2.0 / 31.0) + 2.0 / 31.0

        e12, e26 = ewm(c, a12), ewm(c, a26)
        m = e12 - e26
        sig = ewm(m, a9)
        ag, al = ewm(np.fmax(d, 0.0), aw), ewm(np.fmax(-d, 0.0), aw)
        eatr = ewm(tr, aw)
        e3 = ewm(ewm(ewm(c, a15), a15), a15)
        ekel, ekatr = ewm(c, ak), ewm(tr, aka)
        spdm, sndm = ewm(pdm, aw), ewm(ndm, aw)
        ms2 = ewm(ewm(mom, a25t), a13t)
        as2 = ewm(ewm(amom, a25t), a13t)
        ev12, ev26 = ewm(v, a12), ewm(v, a26)
        meh = ewm(h - lo, am9)
        mehh = ewm(meh, am9)
        dp = where(eatr != 0.0, 100.0 * spdm / eatr, 0.0)
        dq = where(eatr != 0.0, 100.0 * sndm / eatr, 0.0)
        dx = where(dp + dq != 0.0, 100.0 * np.abs(dp - dq) / (dp + dq), 0.0)
        ppov = where(e26 != 0.0, 100.0 * (e12 - e26) / e26, 0.0)
        pvov = where(ev26 != 0.0, 100.0 * (ev12 - ev26) / ev26, 0.0)
        ratio = where(mehh != 0.0, meh / mehh, 0.0)
        rsi = where(al == 0.0, 100.0, 100.0 - 100.0 / (1.0 + ag / al))
        prev_e3 = ops.lag(e3)
        trix = where(
            prev_e3 != 0.0, 100.0 * (e3 - prev_e3) / prev_e3, nan
        )
        tsi = where(as2 != 0.0, 100.0 * ms2 / as2, nan)
        pposig, pvosig = ewm(ppov, a9), ewm(pvov, a9)
        kama = np.array(kama_loop(c, sc_b * sc_b))
        nvi = np.array(
            nvi_loop(
                (v < ops.lag(v)).tolist(),
                ops.coalesce(ops.div(c - pc, pc), 0.0).tolist(),
            )
        )
        psar, p_up = psar_loop(h.tolist(), lo.tolist())

        def stoch(x):
            # position of x in its trailing 10-bar range (partial
            # frames at the start); the 50.0 midpoint on a flat range
            mn, mx = ops.fmin(x, 10), ops.fmax(x, 10)
            return where(mx != mn, 100.0 * (x - mn) / (mx - mn), 50.0)

        # Schaff Trend Cycle: stoch(10) -> ema(.5) -> stoch(10) -> ema(.5)
        stc = ewm(stoch(ewm(stoch(m), 0.5)), 0.5)
        mn14, mx14 = ops.fmin(rsi, 14), ops.fmax(rsi, 14)
        stoch_rsi = ops.guard(
            where(mx14 != mn14, (rsi - mn14) / (mx14 - mn14), nan), 14
        )
        kub, klb = ekel + 2.0 * ekatr, ekel - 2.0 * ekatr
        out = dict(zip(names, (
            e12, e26, m, sig, m - sig, rsi, eatr, trix,
            where(e26 != 0.0, ppov, nan),
            ekel, kub, klb, ewm(dx, aw), dp, dq,
            ewm(ops.coalesce(d * v, 0.0), af),
            tsi,
            where(ev26 != 0.0, pvov, nan),
            ops.fsum(ratio, 25), kama, nvi, stoch_rsi,
            psar, where(p_up, 1.0, -1.0), stc, pposig, pvosig,
        )))
        if derived_tail:
            # frame-order 3-SMA folds + channel/split arithmetic,
            # bitwise-equal to the native add_indicators5 twin
            def sma3(x):
                lag1, lag2 = ops.lag(x), ops.lag(x, 2)
                return ops.guard(((0.0 + lag2) + lag1 + x) / 3.0, 3)

            srk = sma3(stoch_rsi)
            kw4 = kub - klb
            flip = np.zeros(n)
            flip[1:] = p_up[1:] != p_up[:-1]
            out.update(zip(names[27:], (
                where(e26 != 0.0, ppov - pposig, nan),
                where(ev26 != 0.0, pvov - pvosig, nan),
                where(ekel != 0.0, kw4 / ekel * 100.0, nan),
                where(kw4 != 0.0, (c - klb) / kw4, nan),
                srk,
                sma3(srk),
                where(p_up, psar, nan),
                where(p_up, nan, psar),
                where(p_up, flip, 0.0),
                where(p_up, 0.0, flip),
            )))
        return out

    return series_pass(df, kernel, names, part_col, idx_col)


def add_indicators4(
    df: DataFrame,
    part_col: str = "symbol",
    idx_col: str = "time_idx",
    close_col: str = "close",
    high_col: str = "high",
    low_col: str = "low",
    volume_col: str = "volume",
    bb_n: int = 20,
    don_n: int = 20,
    aroon_n: int = 25,
    vortex_n: int = 14,
) -> DataFrame:
    """Fourth battery — the ``ta`` package's derived-column tail
    (reference core/data/preprocess.py:11-16 ``add_all_ta_features``
    emits these beside the bases the earlier batteries cover): band
    width / %B / band-cross indicators, channel width/percent,
    oscillator differentials, the raw ease-of-movement value, and
    percent returns. A kernel on the per-series pass; every column is
    arithmetic over the SAME base quantities the other batteries use,
    so engine/oracle parity carries over unchanged:

    - ``dr`` / ``dlr``: percent daily return / log return
    - ``em``: raw ease-of-movement (``eom14`` is its 14-SMA)
    - ``bb_width``: (upper−lower)/mid·100; ``bb_pband``: %B;
      ``bb_hi``/``bb_li``: close-above-upper / below-lower (1.0/0.0)
    - ``don_width`` / ``don_pband``: Donchian channel analogues
    - ``aroon_ind``: aroon_up − aroon_down
    - ``vortex_diff``: vortex_pos − vortex_neg

    Close/high/low must be non-null (a NULL raises ``ValueError``);
    ``em`` is NULL where the volume is NULL or zero.
    """
    ops = frame_ops()
    names = [
        "dr", "dlr", "em", "bb_width", "bb_pband", "bb_hi", "bb_li",
        "don_width", "don_pband", "aroon_ind", "vortex_diff",
    ]

    def kernel(cols):
        c, h, lo = (cols.need(x) for x in (close_col, high_col, low_col))
        v = cols[volume_col]
        guard, div = ops.guard, ops.div
        prev, ph, pl = ops.lag(c), ops.lag(h), ops.lag(lo)
        mid, sd = ops.favg(c, bb_n), ops.fstd(c, bb_n)
        up, lb = mid + 2.0 * sd, mid - 2.0 * sd
        du, dl = ops.fmax(h, don_n), ops.fmin(lo, don_n)
        a_up = 100.0 * ops.argext(h, aroon_n, np.argmax) / (aroon_n - 1)
        a_dn = 100.0 * ops.argext(lo, aroon_n, np.argmin) / (aroon_n - 1)
        tr = np.fmax(np.fmax(h - lo, np.abs(h - prev)), np.abs(lo - prev))
        trs = ops.fsum(tr, vortex_n)
        vpos = div(ops.fsum(ops.coalesce(np.abs(h - pl), 0.0), vortex_n), trs)
        vneg = div(ops.fsum(ops.coalesce(np.abs(lo - ph), 0.0), vortex_n), trs)
        em = div(((h + lo) / 2.0 - (ph + pl) / 2.0) * (h - lo), v)
        dlr = np.where(
            (c > 0) & (prev > 0), 100.0 * ops.log(c / prev), np.nan
        )
        return dict(zip(names, (
            100.0 * (div(c, prev) - 1.0),
            dlr,
            guard(em, 2),
            guard(div(up - lb, mid) * 100.0, bb_n),
            guard(div(c - lb, up - lb), bb_n),
            guard(np.where(c > up, 1.0, 0.0), bb_n),
            guard(np.where(c < lb, 1.0, 0.0), bb_n),
            guard(div(du - dl, (du + dl) / 2.0) * 100.0, don_n),
            guard(div(c - dl, du - dl), don_n),
            guard(a_up - a_dn, aroon_n),
            guard(vpos - vneg, vortex_n + 1),
        )))

    return series_pass(df, kernel, names, part_col, idx_col)


def add_indicators5(
    df: DataFrame,
    part_col: str = "symbol",
    idx_col: str = "time_idx",
    close_col: str = "close",
) -> DataFrame:
    """Fifth battery — the ``ta`` package's recursive-base derived
    columns (reference core/data/preprocess.py:11-16), computed
    NATIVELY over :func:`recursive_battery_arrow` output so the
    recursions themselves never leave the one Arrow pass:

    - ``ppo_hist`` / ``pvo_hist``: oscillator − its EMA-9 signal
      (the signals ride the battery's Arrow loop; the hists are pure
      arithmetic here)
    - ``kc_width``: Keltner (upper−lower)/mid·100; ``kc_pband``:
      channel %B — same shapes as the Bollinger columns in battery 4
    - ``stochrsi_k``: 3-SMA of ``stoch_rsi``; ``stochrsi_d``: 3-SMA of
      k. Null until three non-null inputs exist in the frame (pandas
      ``rolling(3).mean()`` NaN-propagation semantics, expressed as a
      count guard that is identical in both engines)
    - ``psar_up`` / ``psar_down``: the SAR value during up / down
      trends, null otherwise; ``psar_up_ind`` / ``psar_down_ind``:
      1.0 on the trend-flip bar, else 0.0

    Every column is arithmetic over battery columns already pinned
    bitwise against the staged-fold oracle, so parity is inherited.
    All frames share one Window spec — a single sort.

    This is the COMPOSABLE twin: use it when a battery-shaped frame is
    already materialized (e.g. read back from a parquet indicator
    store, where a shuffle for the Window is unavoidable anyway). When
    the battery runs in the same plan, prefer
    ``recursive_battery_arrow(df, derived_tail=True)`` — the
    applyInPandas output carries no partitioning metadata, so the
    Window here would re-shuffle the whole frame that the Arrow pass
    already held sorted per symbol. Both paths are cross-pinned
    bitwise-equal in tests/test_indicators5.py.
    """
    w = _base(part_col, idx_col)
    f3 = w.rowsBetween(-2, 0)
    c = F.col(close_col)
    up, lb, mid = (
        F.col("kelt_upper"), F.col("kelt_lower"), F.col("kelt_mid")
    )
    sr = F.col("stoch_rsi")
    pd_, ppd = F.col("psar_dir"), F.lag(F.col("psar_dir")).over(w)
    out = df.withColumns(
        {
            "ppo_hist": F.col("ppo") - F.col("ppo_signal"),
            "pvo_hist": F.col("pvo") - F.col("pvo_signal"),
            "kc_width": (up - lb) / F.nullif(mid, F.lit(0.0)) * 100.0,
            "kc_pband": (c - lb) / F.nullif(up - lb, F.lit(0.0)),
            "stochrsi_k": F.when(
                F.count(sr).over(f3) == 3, F.sum(sr).over(f3) / 3.0
            ),
            "psar_up": F.when(pd_ == 1.0, F.col("psar")),
            "psar_down": F.when(pd_ == -1.0, F.col("psar")),
            "psar_up_ind": F.when(
                (pd_ == 1.0) & (ppd == -1.0), 1.0
            ).otherwise(0.0),
            "psar_down_ind": F.when(
                (pd_ == -1.0) & (ppd == 1.0), 1.0
            ).otherwise(0.0),
        }
    )
    kk = F.col("stochrsi_k")
    return out.withColumn(
        "stochrsi_d",
        F.when(F.count(kk).over(f3) == 3, F.sum(kk).over(f3) / 3.0),
    )


def trend_battery_arrow(
    df: DataFrame,
    close_col: str = "close",
    trix_n: int = 15,
    ppo_fast: int = 12,
    ppo_slow: int = 26,
    kelt_n: int = 20,
    kelt_atr: int = 10,
    kelt_mult: float = 2.0,
    high_col: str = "high",
    low_col: str = "low",
    part_col: str = "symbol",
    idx_col: str = "time_idx",
) -> DataFrame:
    """Chained-recursion trend indicators, a kernel on the per-series
    pass:

    - ``trix{trix_n}``: 100 · 1-step %change of EMA(EMA(EMA(close)))
    - ``ppo``: 100 · (EMA_fast − EMA_slow) / EMA_slow
    - ``kelt_mid``/``kelt_upper``/``kelt_lower``: Keltner channel —
      EMA(close, kelt_n) ± mult · Wilder-ATR(kelt_atr)

    A null close carries every close recursion's state: trix/ppo are
    null on that row, the Keltner lines keep the carried EMA (and ATR,
    whose true range skips null terms like ``greatest``).
    """
    ops = frame_ops()
    a3 = 2.0 / (trix_n + 1.0)
    af, asl = 2.0 / (ppo_fast + 1.0), 2.0 / (ppo_slow + 1.0)
    ak, aa = 2.0 / (kelt_n + 1.0), 1.0 / kelt_atr
    names = [f"trix{trix_n}", "ppo", "kelt_mid", "kelt_upper", "kelt_lower"]

    def trix(x):
        e3 = ops.ewm(ops.ewm(ops.ewm(x, a3), a3), a3)
        prev = ops.lag(e3)
        return np.where(prev != 0.0, 100.0 * (e3 - prev) / prev, np.nan)

    def ppo(x):
        yf, ys = ops.ewm(x, af), ops.ewm(x, asl)
        return np.where(ys != 0.0, 100.0 * (yf - ys) / ys, np.nan)

    def kernel(cols):
        c, h, lo = cols[close_col], cols[high_col], cols[low_col]
        pc = ops.lag(c)
        tr = np.fmax(np.fmax(h - lo, np.abs(h - pc)), np.abs(lo - pc))
        ek = ops.carried(c, lambda x: ops.ewm(x, ak))
        eatr = ops.carried(tr, lambda x: ops.ewm(x, aa))
        return dict(zip(names, (
            ops.on_valid(c, trix),
            ops.on_valid(c, ppo),
            ek,
            ek + kelt_mult * eatr,
            ek - kelt_mult * eatr,
        )))

    return series_pass(df, kernel, names, part_col, idx_col)


def apply_ta_battery(
    df: DataFrame,
    feature_cols: list[str],
    open_col: str = "open",
    high_col: str = "high",
    low_col: str = "low",
    close_col: str = "close",
    volume_col: str = "volume",
    part_col: str = "symbol",
    idx_col: str = "time_idx",
) -> DataFrame:
    """W12 escape hatch: run the full `ta` package battery
    (reference core/data/preprocess.py:11-16 ``add_all_ta_features``)
    per series in one Arrow pass, keeping only ``feature_cols`` of the
    ~85 generated columns (declared up front because Spark needs the
    output schema before execution).

    The `ta` package is optional; without it this raises
    NotImplementedError at call time — the native batteries
    (:func:`add_indicators` /2/3/4/5 and
    :func:`recursive_battery_arrow` with ``derived_tail=True``, ~85
    columns, the full add_all_ta_features surface) are the supported
    built-in path and are what the oracle-checked queries use. ta's
    pandas kernels are also not bitwise-reproducible against a SQL
    oracle (rolling implementations differ), so escape-hatch outputs
    get rows-only checks by design; the hatch remains for users who
    want ta's exact warm-up conventions instead of the documented
    seeded-recursion ones.
    """
    try:
        import ta  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env without `ta`
        raise NotImplementedError(
            "apply_ta_battery needs the optional `ta` package "
            "(pip install ta); the built-in batteries in "
            "operators/rolling.py cover the full ~85-column "
            "add_all_ta_features surface natively without it"
        ) from exc

    fields = list(df.schema.fields) + [
        StructField(c, DoubleType()) for c in feature_cols
    ]
    schema = StructType(fields)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(idx_col)
        feat = ta.add_all_ta_features(
            pdf[[open_col, high_col, low_col, close_col, volume_col]].copy(),
            open=open_col,
            high=high_col,
            low=low_col,
            close=close_col,
            volume=volume_col,
            fillna=False,
        )
        for c in feature_cols:
            pdf[c] = feat[c].astype("float64").to_numpy()
        return pdf

    return df.groupBy(part_col).applyInPandas(fn, schema)
