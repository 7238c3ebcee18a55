"""Analogical forecast + sliding evaluation (SURVEY.md §2.3 J3, §2.4
A6-A8, §3.3).

Reference semantics (notebooks/test.ipynb cell 20, README.md:74):
for each query window, find the k nearest historical windows in
embedding space, take the top-2, gather the raw values that FOLLOW each
match, re-standardize them by the match's own (center, scale), average
the two forecasts elementwise (truncated to the common length — a no-op
here because futures are fixed length P), and score MAE against the
query's realized future normalized by the query's (center, scale).

Spark shape: the "gather the following window" as-of join (J3) is
pre-materialized as the ``future`` array column by
``sliding_windows(pred_window=P)`` — same sort, no extra join. The
search join is either per-symbol (equi-join on symbol, co-partitioned,
linear scale-out) or global (broadcast the strided query set). The
ensemble is a (query, step) hash aggregate after ``posexplode`` and MAE
folds back per query.

Wide within-symbol backtests (the reference's L=256/P=192) take
:func:`forecast_per_symbol` instead: the same numbers from one grouped
Arrow pass per symbol over the gap-filled series, with window build,
search, ensemble and MAE fused so no window array crosses a Spark
boundary. ``plans/flagship.py`` picks the route by window width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.distance import (
    METRICS_ORDER_DESC,
    metric_expr,
    metric_expr_fixed,
)
from ..functions.normalize import EPS, zscore_array

#: widest unrolled distance that still beats the sequential fold —
#: beyond this the flat chain's generated method is large enough that
#: whole-stage codegen loses to the interpreted fold (measured, r15)
_FLAT_DIM_MAX = 64

#: future length at or past which the query payload is split out of
#: the rank sort and re-attached post-top-k (see forecast_evaluate)
_SPLIT_PRED_MIN = 64

#: payload-broadcast budget: the post-top-k re-attach join broadcasts
#: the (center, scale, future) panel only while its raw bytes stay
#: under this; a larger panel (scale: millions of strided queries)
#: falls back to the planner's choice — a shuffle join on the query
#: key — instead of forcing an executor-OOM-sized broadcast (r15
#: advice). The panel is already localCheckpoint-materialized, so the
#: row count is one cheap block-scan job.
_PAYLOAD_BC_MAX_BYTES = 256 * 1024 * 1024


def forecast_evaluate(
    train_w: DataFrame,
    val_w: DataFrame,
    pred_window: int,
    k: int = 5,
    ensemble: int = 2,
    metric: str = "l2",
    within_symbol: bool = True,
    eps: float = EPS,
    dim: int | None = None,
    return_steps: bool = False,
) -> DataFrame:
    """Both inputs are ``sliding_windows(..., pred_window=P)`` outputs
    (symbol, window_id, center, scale, xs, future). Windows whose future
    is not fully realized are excluded on BOTH sides (the reference
    trims ``embeddings[:-P]``, cell 16). Returns one row per query:
    (symbol, window_id, mae).

    ``within_symbol=True`` searches matches only in the query's own
    symbol (the reference's single-symbol notebook setup; a
    co-partitioned equi-join that scales linearly with symbols).
    ``False`` searches globally (ConcatDataset-style; broadcast
    nested-loop of the small query set against all windows).
    """
    train_full = train_w.filter(F.size("future") == pred_window).select(
        F.col("symbol").alias("m_symbol"),
        F.col("window_id").alias("m_window_id"),
        F.col("center").alias("m_center"),
        F.col("scale").alias("m_scale"),
        F.col("xs").alias("m_xs"),
        F.col("future").alias("m_future"),
    )
    train = train_full
    queries = val_w.filter(F.size("future") == pred_window).select(
        F.col("symbol").alias("q_symbol"),
        F.col("window_id").alias("q_window_id"),
        F.col("center").alias("q_center"),
        F.col("scale").alias("q_scale"),
        F.col("xs").alias("q_xs"),
        F.col("future").alias("q_future"),
    )
    # Wide futures only: the query's own (center, scale, future)
    # payload is constant per query and re-attaches AFTER the top-k
    # (guide §8: decide with small rows — carrying the q-side arrays
    # through the rank sort doubled the sorted bytes for no decision
    # value). The query panel is bounded by design (strided
    # evaluation cursor), so materialize it ONCE: without the
    # checkpoint each broadcast branch replays the whole upstream
    # pipeline (measured: the rejoin's extra branch turned 2 full
    # pipeline passes into 3). At smoke scale (short futures) the
    # split's eager round trip costs more than the narrow sort saves,
    # so it engages only at or past _SPLIT_PRED_MIN — both paths produce
    # identical doubles (the payload join is a key-equality
    # re-attachment of per-query constants).
    split_payload = pred_window >= _SPLIT_PRED_MIN
    if split_payload:
        queries = queries.localCheckpoint(eager=True)
        q_join = queries.select("q_symbol", "q_window_id", "q_xs")
        q_payload = queries.select(
            "q_symbol", "q_window_id", "q_center", "q_scale", "q_future"
        )
        # the MATCH payload gets the same §8 treatment: the rank sort
        # decides with (keys, dist) only; (m_center, m_scale,
        # m_future) re-attach to the `ensemble`-per-query survivors by
        # key equality afterwards. Carrying the P-length m_future
        # through every candidate pair multiplied the sorted/shuffled
        # bytes ~30x for no decision value.
        train = train_full.select("m_symbol", "m_window_id", "m_xs")
        m_payload = train_full.select(
            "m_symbol", "m_window_id", "m_center", "m_scale", "m_future"
        )
    else:
        q_join = queries

    if within_symbol:
        joined = train.join(
            q_join, train.m_symbol == q_join.q_symbol, "inner"
        )
    else:
        joined = train.join(F.broadcast(q_join))

    # dim given AND small -> flat codegen distance (bitwise equal to
    # the fold; the knn-suite fold≡flat proof). The flat form only
    # wins while the unrolled chain stays a small generated method:
    # measured at dim=256 it is ~2x SLOWER than the interpreted
    # sequential fold (r15: 4.6 s vs 2.4 s per 2M rows), so large
    # dims route to the fold — same doubles either way.
    if dim is not None and dim > _FLAT_DIM_MAX:
        dim = None
    if metric == "cosine":
        # z-scored CONSTANT windows (gap-fill runs) have ‖xs‖ = 0:
        # cosine is undefined and ANSI division errors. Guard the
        # denominator and rank such pairs last (-2 < any cosine);
        # the oracle carries the identical CASE (NULL ordering
        # differs between engines, a sentinel does not).
        if dim is not None:
            from ..functions.distance import dot_fixed, l2_norm_fixed

            denom = l2_norm_fixed(F.col("m_xs"), dim) * l2_norm_fixed(
                F.col("q_xs"), dim
            )
            num = dot_fixed(F.col("m_xs"), F.col("q_xs"), dim)
        else:
            from ..functions.distance import dot, l2_norm

            denom = l2_norm(F.col("m_xs")) * l2_norm(F.col("q_xs"))
            num = dot(F.col("m_xs"), F.col("q_xs"))
        dist = F.when(denom > F.lit(0.0), num / denom).otherwise(
            F.lit(-2.0)
        )
        desc = True
    elif dim is not None:
        dist, desc = metric_expr_fixed(
            metric, F.col("m_xs"), F.col("q_xs"), dim
        )
    else:
        dist, desc = metric_expr(metric, F.col("m_xs"), F.col("q_xs"))
    joined = joined.withColumn("dist", dist)
    order = [
        F.col("dist").desc() if desc else F.col("dist").asc(),
        F.col("m_symbol").asc(),
        F.col("m_window_id").asc(),
    ]
    w = Window.partitionBy("q_symbol", "q_window_id").orderBy(*order)
    top = joined.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= ensemble
    )
    if split_payload:
        # re-attach the match payload first: the ensemble rows (a few
        # per query) broadcast against the train branch, so the big
        # side streams and nothing heavy shuffles; then the query
        # payload — broadcast only while the panel fits the budget,
        # past it the planner falls back to a key-equality shuffle
        # join (same rows either way)
        top = m_payload.join(
            F.broadcast(
                top.select(
                    "q_symbol", "q_window_id", "m_symbol", "m_window_id"
                )
            ),
            ["m_symbol", "m_window_id"],
        )
        n_q = queries.count()
        if n_q * (pred_window + 4) * 8 <= _PAYLOAD_BC_MAX_BYTES:
            q_payload = F.broadcast(q_payload)
        top = top.join(q_payload, ["q_symbol", "q_window_id"])

    # re-standardize each match's future by the MATCH's stats and the
    # query's future by the QUERY's stats; explode both together so the
    # target rides along and no second join/branch over the query set is
    # needed (it is constant per (query, step) -> F.first in the agg)
    steps = top.select(
        "q_symbol",
        "q_window_id",
        F.posexplode(
            F.arrays_zip(
                zscore_array(
                    F.col("m_future"), F.col("m_center"), F.col("m_scale"), eps
                ).alias("p"),
                zscore_array(
                    F.col("q_future"), F.col("q_center"), F.col("q_scale"), eps
                ).alias("t"),
            )
        ).alias("step", "pt"),
    )
    ens = steps.groupBy("q_symbol", "q_window_id", "step").agg(
        F.avg(F.col("pt.p")).alias("pred"),
        F.first(F.col("pt.t")).alias("target"),
    )
    if return_steps:
        # per-step (pred, target) pairs — the surface A9's loss math
        # aggregates over (reference train.py loss terms)
        return ens.select(
            F.col("q_symbol").alias("symbol"),
            F.col("q_window_id").alias("window_id"),
            "step",
            "pred",
            "target",
        )
    return (
        ens.groupBy("q_symbol", "q_window_id")
        .agg(F.avg(F.abs(F.col("pred") - F.col("target"))).alias("mae"))
        .select(
            F.col("q_symbol").alias("symbol"),
            F.col("q_window_id").alias("window_id"),
            "mae",
        )
    )


def error_summary(per_query_mae: DataFrame) -> DataFrame:
    """mean/stddev_pop over per-query MAEs (test.ipynb cell 20 return)."""
    return per_query_mae.agg(
        F.avg("mae").alias("mae_mean"),
        F.stddev_pop("mae").alias("mae_std"),
        F.count(F.lit(1)).alias("n_queries"),
    )


#: queries scored per block inside one symbol's group of
#: :func:`forecast_per_symbol`; with ``_ARROW_BUILD_CHUNK`` candidates
#: per block this bounds the pair working set (distance accumulator,
#: difference, sort keys) at ~256 × 4096 × 8 B = 8 MiB per array
_QUERY_BLOCK = 256


def forecast_per_symbol(
    rows: DataFrame,
    L: int,
    pred_window: int,
    ensemble: int = 2,
    metric: str = "l2",
    stride: int = 1,
    cand_stride: int = 1,
    eps: float = EPS,
) -> DataFrame:
    """Within-symbol backtest as ONE grouped Arrow pass: window build,
    k-NN search, top-``ensemble`` forecast and MAE, fused per symbol.

    ``rows``: gap-filled (symbol, split, time_idx, close) with split in
    {'train', 'val'} and ``time_idx`` non-null and unique per (symbol,
    split). Returns (symbol, window_id, mae) — the rows
    ``forecast_evaluate(train_w, val_w, within_symbol=True)`` returns
    for the windows of ``sliding_windows(rows, L, pred_window,
    part_col=["symbol", "split"])`` with the flagship's stride cursors:
    val windows at ``(window_id - first val window) % stride == 0``
    are the queries, train windows at ``(window_id - first train
    window) % cand_stride == 0`` the candidates, both kept only with a
    full P-step future.

    Same doubles as the Spark route: the window math is
    ``windows.numpy_window_kernels``; l1/l2/cosine are sequential left
    folds over the window positions from 0.0 (bitwise
    ``functions.distance``'s folds, and its flat forms), with cosine's
    zero-norm -2.0 sentinel; the top ``ensemble`` go by (dist, then
    window_id), DESC for cosine, NaN ordered largest as Spark orders
    it; ``pred = (0.0 + p_1 + ... + p_e) / e`` in rank order and
    ``mae`` a left fold over the steps divided by P. ``pred`` is bitwise
    the Spark route's for ensembles of 1 or 2 (two-term sums commute);
    Spark's ``avg`` adds the steps in partition order, so MAE can
    differ from it in the last bits.

    Why: at wide shapes the Spark route's cost is plan shape, not
    arithmetic — the window arrays are built, checkpointed and
    re-attached across several jobs. Here they never leave the Python
    worker. Memory per group (one symbol): the series, O(rows), plus
    a block working set of ~(``_QUERY_BLOCK`` + ``_ARROW_BUILD_CHUNK``)
    × (L + P) × 8 B for windows and ``_QUERY_BLOCK`` ×
    ``_ARROW_BUILD_CHUNK`` × 8 B per pair array, whatever the symbol's
    length: candidates are rebuilt per query block instead of held.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import DoubleType, StructField, StructType

    from .windows import _ARROW_BUILD_CHUNK, numpy_window_kernels

    if metric not in METRICS_ORDER_DESC:
        raise ValueError(f"metric must be one of {sorted(METRICS_ORDER_DESC)}")
    P = pred_window
    desc = METRICS_ORDER_DESC[metric]
    chunk, q_block = _ARROW_BUILD_CHUNK, _QUERY_BLOCK
    series, starts_of, zscore = numpy_window_kernels(L, eps)
    in_schema = rows.schema
    out_schema = StructType(
        [
            in_schema["symbol"],
            StructField("window_id", in_schema["time_idx"].dataType),
            StructField("mae", DoubleType()),
        ]
    )
    jP = np.arange(P, dtype=np.int64)

    def split_windows(table, split, every):
        """(idx, v, starts): the split's rows sorted, and the starts of
        its full-future windows on the ``every`` cursor."""
        part = table.filter(pc.equal(table.column(1), split))
        idx, v, bad = series(
            part.column(2).combine_chunks(), part.column(3).combine_chunks()
        )
        built = starts_of(idx.size, bad, L)
        if built.size == 0:
            return idx, v, built
        st = starts_of(idx.size, bad, L + P)  # L-frame + full future
        return idx, v, st[(idx[st] - idx[built[0]]) % every == 0]

    def dist_block(q, c):
        """(queries × candidates) scores of z-scored windows as
        sequential left folds over the L positions."""
        qT, cT = q.T, np.ascontiguousarray(c.T)
        acc = np.zeros((q.shape[0], c.shape[0]))
        if metric == "cosine":
            qn = np.zeros(q.shape[0])
            cn = np.zeros(c.shape[0])
            for j in range(L):
                acc += qT[j][:, None] * cT[j][None, :]
                qn += qT[j] * qT[j]
                cn += cT[j] * cT[j]
            denom = np.sqrt(cn)[None, :] * np.sqrt(qn)[:, None]
            with np.errstate(divide="ignore", invalid="ignore"):
                return np.where(denom > 0.0, acc / denom, -2.0)
        for j in range(L):
            d = cT[j][None, :] - qT[j][:, None]
            acc += np.abs(d) if metric == "l1" else d * d
        return np.sqrt(acc) if metric == "l2" else acc

    def top(d, cand):
        """Best ``ensemble`` columns per row: (dist, window_id), NaN
        largest; ``cand`` columns are in window_id order, so a stable
        sort on the score breaks ties by window_id."""
        nan = np.isnan(d)
        key = np.where(nan, 0.0, -d if desc else d)
        order = np.lexsort((key, ~nan if desc else nan), axis=1)
        order = order[:, :ensemble]
        rows_i = np.arange(d.shape[0])[:, None]
        return d[rows_i, order], cand[rows_i, order]

    def evaluate(table: "pa.Table") -> "pa.Table":
        out_ids, out_mae = [np.zeros(0, np.int64)], [np.zeros(0)]
        q_idx, q_v, q_st = split_windows(table, "val", stride)
        _, c_v, c_st = split_windows(table, "train", cand_stride)
        if q_st.size and c_st.size:
            e = min(ensemble, c_st.size)
            for q0 in range(0, q_st.size, q_block):
                qs = q_st[q0 : q0 + q_block]
                q_center, q_scale, q_xs = zscore(q_v, qs)
                best_d = np.zeros((qs.size, 0))
                best = np.zeros((qs.size, 0), dtype=np.int64)
                for c0 in range(0, c_st.size, chunk):
                    cs = c_st[c0 : c0 + chunk]
                    d = dist_block(q_xs, zscore(c_v, cs)[2])
                    best_d, best = top(
                        np.concatenate([best_d, d], axis=1),
                        np.concatenate(
                            [best, np.broadcast_to(cs, d.shape)], axis=1
                        ),
                    )
                pred = np.zeros((qs.size, P))
                for r in range(e):  # rank order, 0.0 + p_1 + ...
                    m_center, m_scale, _ = zscore(c_v, best[:, r])
                    fut = c_v[best[:, r][:, None] + L + jP]
                    pred += (fut - m_center[:, None]) / (m_scale + eps)[
                        :, None
                    ]
                pred = pred / float(e)
                target = (q_v[qs[:, None] + L + jP] - q_center[:, None]) / (
                    q_scale + eps
                )[:, None]
                err = np.abs(pred - target)
                acc = np.zeros(qs.size)
                for j in range(P):
                    acc += err[:, j]
                out_ids.append(q_idx[qs])
                out_mae.append(acc / float(P))
        ids = np.concatenate(out_ids)
        return pa.Table.from_arrays(
            [
                pa.repeat(table.column(0)[0], ids.size),
                pa.array(ids, type=table.column(2).type),
                pa.array(np.concatenate(out_mae)),
            ],
            names=[f.name for f in out_schema],
        )

    return (
        rows.select("symbol", "split", "time_idx", "close")
        .groupBy("symbol")
        .applyInArrow(evaluate, schema=out_schema)
    )
