"""The flagship end-to-end pipeline (SURVEY.md §3.3 restated in Spark).

events → dedup keep-last → 6h OHLC resample → time_idx → warmup skip →
time-ordered split → per-split gap fill → sliding windows + z-score →
k-NN search → analogical forecast → per-query MAE.

Everything up to the gap fill is ONE lazy DataFrame plan with one wide
exchange (hash by symbol); Catalyst prunes the events scan down to
(user_id, ts, value, event_id). From the gap-filled rows on, the
backtest (:func:`flagship_per_query_mae`) takes one of two routes,
picked by the same observable width rule as the window build
(``L + pred_window >= windows.ARROW_BUILD_MIN_WIDTH``):

- narrow windows, or global search: Spark operators — the window
  build, a k-NN search join (co-partitioned per symbol, or a broadcast
  of the strided query set), a rank window for the top-2 and
  aggregates for the ensemble and MAE (``forecast_evaluate``).
- wide windows with within-symbol search (the reference's L=256/P=192):
  one fused per-symbol Arrow pass (``forecast_per_symbol``) builds the
  windows, searches, ensembles and scores inside the Python worker.
  The window arrays never cross a Spark boundary; memory per symbol is
  its series plus a fixed block working set (see that function).

Serving (``forecast_evaluate`` against a cached train store) and the
per-step surface (:func:`flagship_step_errors`) keep the Spark route at
every width. Embedding = the z-scored window itself (the reference's
VAE latent is an offline-trained artifact; the engine's contract is the
search/forecast query shape — see SURVEY.md §7 "out of scope").

Deliberate deviations from the notebook (documented; the DuckDB oracle
in __spark_entry__ mirrors THESE semantics exactly):
- search is within-symbol (the notebook's store is single-symbol
  anyway); global search is exposed via operators.knn.
- the last valid query position is included (the notebook's
  ``range(0, len-P-1, stride)`` drops one extra trailing position).
- gap fill reconstructs timestamps from time_idx instead of
  forward-filling them verbatim.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.calendar import add_time_idx
from ..operators.cleaning import (
    positional_split_labeled,
    dedup_keep_last,
    positional_skip_frac,
    positional_split,
)
from ..operators import windows as window_ops
from ..operators.forecast import (
    error_summary,
    forecast_evaluate,
    forecast_per_symbol,
)
from ..operators.gapfill import fill_missing_time_idx
from ..operators.resample import resample_ohlcv
from ..operators.windows import sliding_windows
from ..sources.tables import events_series


@dataclass(frozen=True)
class FlagshipParams:
    """Smoke-scale analogs of the reference config (seq_len=256,
    pred_window=192, k=5, top-2 ensemble, stride=seq_len//4, skip 10%,
    val 15%) sized for the ~120-bucket-per-symbol events series."""

    resample_every: str = "6 hours"
    step_seconds: int = 6 * 3600
    L: int = 8
    pred_window: int = 4
    k: int = 5
    ensemble: int = 2
    stride: int = 2
    skip_frac: float = 0.1
    val_ratio: float = 0.15
    metric: str = "l2"
    within_symbol: bool = True
    # global-search cost bounds (exact cross-symbol search is O(Q*C);
    # both knobs keep the pair count explicit instead of letting the
    # BNLJ grow quadratically with symbols):
    # query panel = symbols where symbol % query_symbol_mod == 0
    query_symbol_mod: int | None = None
    # candidate store strided per symbol like the W11 query cursor
    cand_stride: int = 1
    # run the WHOLE pipeline on a deterministic symbol panel
    # (symbol % symbol_mod == 0) — bounds the oracle-checked
    # fullscale config (L=256/P=192) to a gate-sized panel while
    # keeping every per-symbol semantic at the real window shape;
    # per-symbol results are identical to the unfiltered run
    # (the pipeline never crosses symbols before the search join)
    symbol_mod: int | None = None


def flagship_labeled(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    """events -> dedup keep-last -> resample -> time_idx -> warmup skip
    -> split-labeled rows (symbol, split, time_idx, close) — the
    pre-fill half of :func:`flagship_windows`, exposed so serving-side
    consumers (the streaming flagship's deploy-time split boundary)
    share one definition."""
    base = events_series(spark, sf_dir)
    if p.symbol_mod is not None:
        # partition-panel filter at the scan — at 100 TB this prunes
        # before the one wide exchange, not after
        base = base.filter(F.col("symbol") % p.symbol_mod == 0)
    # the one wide exchange carries compact events, but everything
    # DOWNSTREAM amplifies: gap fill explodes the grid ~10-60x and the
    # window build another L+P x, so sizing this exchange by its own
    # bytes (AQE coalescing) starves the pipeline — a 300 KB panel
    # coalesced to 3 partitions and the whole L=256 build ran 3-wide
    # (measured 21.8 s vs 7.3 s at full width, r15). An explicit
    # partition count disables AQE coalescing for exactly this
    # exchange; defaultParallelism = total cores is scale-adaptive
    # (the per-symbol series count downstream always dwarfs it).
    series = dedup_keep_last(
        base.repartition(
            spark.sparkContext.defaultParallelism, "symbol"
        ),
        ["symbol", "datetime"],
        "event_id",
    )
    res = resample_ohlcv(
        series.select("symbol", "datetime", "close"),
        every=p.resample_every,
        ts_col="datetime",
        part_col="symbol",
    ).select("symbol", "datetime", "close")
    res = add_time_idx(res, "datetime", p.step_seconds)
    res = positional_skip_frac(
        res, "symbol", "time_idx", p.skip_frac, use_window=True
    )
    return positional_split_labeled(
        res, "symbol", "time_idx", p.val_ratio, use_window=True
    )


def flagship_val_starts(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    """(symbol, val_start): each symbol's first val-split time_idx —
    the deploy-time cutoff a streaming serving path is configured
    with when the train store is built (the split is a suffix in
    time, so ``time_idx >= val_start`` IS the val membership test)."""
    return (
        flagship_labeled(spark, sf_dir, p)
        .filter(F.col("split") == "val")
        .groupBy("symbol")
        .agg(F.min("time_idx").alias("val_start"))
    )


def flagship_train_store(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    """The batch-built candidate store: train-split windows only —
    what a serving deployment materializes offline and the streaming
    flagship searches against."""
    return (
        flagship_windows(spark, sf_dir, p)
        .repartition("symbol")
        .filter(F.col("split") == "train")
        .drop("split")
    )


def _flagship_filled(
    spark: SparkSession, sf_dir: str, p: FlagshipParams
) -> DataFrame:
    """Gap-filled (symbol, split, time_idx, close): the input of both
    backtest routes."""
    labeled = flagship_labeled(spark, sf_dir, p)
    return fill_missing_time_idx(
        labeled.select("symbol", "split", "time_idx", "close"),
        part_col=["symbol", "split"],
        idx_col="time_idx",
        ts_col="__none__",
        fill_cols=["close"],
    ).select("symbol", "split", "time_idx", "close")


def flagship_windows(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    """events -> split-labeled, gap-filled, z-scored sliding windows.

    Single-lineage plan: ONE wide exchange up front (hash by symbol);
    every per-symbol operator after it (dedup, resample, positional
    skip/split as window functions, per-(symbol,split) gap fill,
    window build) satisfies its required distribution from that same
    partitioning, so the whole chain is exchange-free — stage count
    stays flat no matter how many operators stack.
    """
    return sliding_windows(
        _flagship_filled(spark, sf_dir, p),
        value_col="close",
        L=p.L,
        pred_window=p.pred_window,
        part_col=["symbol", "split"],
        idx_col="time_idx",
    )


def flagship_step_errors(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    """Per-step (pred, target) pairs of the flagship evaluation — the
    surface the A9 loss-math query aggregates (MAE/MSE/Huber)."""
    train_w, val_w = _flagship_train_val(spark, sf_dir, p)
    return forecast_evaluate(
        train_w,
        val_w,
        pred_window=p.pred_window,
        k=p.k,
        ensemble=p.ensemble,
        metric=p.metric,
        within_symbol=p.within_symbol,
        dim=p.L,
        return_steps=True,
    )


def _flagship_train_val(
    spark: SparkSession, sf_dir: str, p: FlagshipParams
) -> tuple[DataFrame, DataFrame]:
    # the window frame is already clustered by hash(symbol) from the
    # pipeline's one wide exchange (hash(symbol) satisfies clustering
    # for every (symbol, ...) operator above it), so the search join
    # is co-partitioned with NO further exchange — an explicit
    # repartition("symbol") here would re-shuffle the built window
    # ARRAYS whenever its partition count differed from the
    # pipeline's (the §8 anti-pattern: heavy payload moved twice).
    # The val branch rides a BroadcastExchange locally (small strided
    # query set), which recomputes the upstream pipeline for that
    # side; past the broadcast threshold Spark falls back to a
    # sort-merge join whose two shuffle subtrees are identical, so at
    # scale the pipeline is computed once and reused (ReuseExchange).
    windows = flagship_windows(spark, sf_dir, p)
    train_w = windows.filter(F.col("split") == "train").drop("split")
    val_w = windows.filter(F.col("split") == "val").drop("split")
    if p.query_symbol_mod is not None:
        val_w = val_w.filter(F.col("symbol") % p.query_symbol_mod == 0)

    # The per-symbol first-window anchor (__w0/__t0) for the stride
    # cursors. Two value-identical derivations:
    # - JVM window build (small shapes): a min() window over the built
    #   windows — free, the frame is still hash(symbol)-clustered.
    # - Arrow build (wide shapes): the grouped Python pass drops
    #   Catalyst's clustering knowledge, so the same min() window
    #   would re-shuffle the built ARRAYS (§8: heavy payload moved
    #   twice). Instead the anchor comes from the NARROW labeled grid:
    #   gap fill densifies [min, max] per (symbol, split), so the
    #   first complete window starts exactly at the split's min
    #   time_idx (= min labeled time_idx — fill only inserts BETWEEN
    #   min and max) whenever any complete window exists, and when
    #   none exists the windows side is already empty, making the
    #   anchor irrelevant. One tiny per-symbol aggregate, broadcast.
    arrow_build = p.L + p.pred_window >= window_ops.ARROW_BUILD_MIN_WIDTH
    if arrow_build:
        labeled = flagship_labeled(spark, sf_dir, p).select(
            "symbol", "split", "time_idx"
        )
    if p.cand_stride > 1:
        if arrow_build:
            t0 = (
                labeled.filter(F.col("split") == "train")
                .groupBy("symbol")
                .agg(F.min("time_idx").alias("__t0"))
            )
            train_w = train_w.join(F.broadcast(t0), "symbol")
        else:
            train_w = train_w.withColumn(
                "__t0", F.min("window_id").over(Window.partitionBy("symbol"))
            )
        train_w = train_w.filter(
            (F.col("window_id") - F.col("__t0")) % p.cand_stride == 0
        ).drop("__t0")
    # strided evaluation cursor (W11): every `stride`-th window position
    # per symbol, position 0 = the symbol's first val window
    if arrow_build:
        w0 = (
            labeled.filter(F.col("split") == "val")
            .groupBy("symbol")
            .agg(F.min("time_idx").alias("__w0"))
        )
        val_w = val_w.join(F.broadcast(w0), "symbol")
    else:
        val_w = val_w.withColumn(
            "__w0", F.min("window_id").over(Window.partitionBy("symbol"))
        )
    val_w = val_w.filter(
        (F.col("window_id") - F.col("__w0")) % p.stride == 0
    ).drop("__w0")
    return train_w, val_w


def flagship_per_query_mae(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    """(symbol, window_id, mae) per strided val query; the route is
    picked by the width rule in the module docstring."""
    if (
        p.within_symbol
        and p.L + p.pred_window >= window_ops.ARROW_BUILD_MIN_WIDTH
    ):
        rows = _flagship_filled(spark, sf_dir, p)
        if p.query_symbol_mod is not None:
            # within-symbol: a symbol without queries has no output
            rows = rows.filter(F.col("symbol") % p.query_symbol_mod == 0)
        return forecast_per_symbol(
            rows,
            L=p.L,
            pred_window=p.pred_window,
            ensemble=p.ensemble,
            metric=p.metric,
            stride=p.stride,
            cand_stride=p.cand_stride,
        )
    train_w, val_w = _flagship_train_val(spark, sf_dir, p)
    return forecast_evaluate(
        train_w,
        val_w,
        pred_window=p.pred_window,
        k=p.k,
        ensemble=p.ensemble,
        metric=p.metric,
        within_symbol=p.within_symbol,
        dim=p.L,
    )


def flagship_summary(
    spark: SparkSession, sf_dir: str, p: FlagshipParams = FlagshipParams()
) -> DataFrame:
    return error_summary(flagship_per_query_mae(spark, sf_dir, p))
