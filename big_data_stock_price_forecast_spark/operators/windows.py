"""Sliding-window extraction + per-window z-score (SURVEY.md §2.5 W1/W2,
§2.4 A2) — the reference's "data point" builder (core/data/dataset.py:13-26).

Every row offset i yields the L-value forward window
``close[i : i+L]``; windows shorter than L (series tail) are dropped, so
window count per symbol = rows - L + 1. Each window is z-scored by its
OWN mean and population stddev with epsilon 1e-8 on the scale
(dataset.py:19-20 contract). ``window_id`` = the leading row's
``time_idx``. Optionally attaches the following P values
(``future``) — the forecast target/gather (notebooks/test.ipynb cell 20)
— from the SAME sort order, avoiding a separate as-of join.

Scale design: every window is L (+P) values, so the build amplifies
data ~(L+P)×. Two routes, picked by the window width alone
(``L + pred_window >= ARROW_BUILD_MIN_WIDTH``):

- narrow (JVM): ``collect_list`` over a row frame. Only the single
  value column is collected (project before calling); the window and
  future frames share one Window spec → one shuffle + one sort per
  group, and that sort is the JVM's spill-able sort, so no group's
  series has to fit in memory.
- wide (Arrow): one ``applyInArrow`` pass per group. Nothing spills:
  the group's rows (one symbol's series) are held whole in one Python
  worker, and so is the group's output, O(rows × (L+P) × 8 B), until
  Arrow hands it back; ``_ARROW_BUILD_CHUNK`` bounds only the NumPy
  working set that builds it.

For strided evaluation, filter on ``window_id % stride`` BEFORE the
normalize/embed stages consume the arrays. The backtest's wide route
(``operators.forecast.forecast_per_symbol``) reuses this module's
NumPy window math and never returns the arrays at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.normalize import EPS, zscore_array

#: combined window length (L + pred_window) above which the build
#: routes to the vectorized Arrow/NumPy path. The JVM sliding-frame
#: build re-iterates every row's frame inside WindowExec (O(n·(L+P))
#: per-element aggregate updates plus a per-row array allocation per
#: collect_list) and the variance/z-score folds run interpreted —
#: fine at smoke window shapes, the single biggest plan cost of the
#: repo at the reference's L=256/P=192 (guide §4.2: hand whole
#: batches to vectorized native code). Small shapes keep the JVM
#: path: it preserves the pipeline's hash(symbol) clustering for
#: free and the per-group Python round-trip would cost more than the
#: frames do.
ARROW_BUILD_MIN_WIDTH = 65

#: window starts processed per NumPy block inside one group — bounds
#: peak memory at ~chunk × (L+P) × 8 bytes × a few temporaries per
#: task regardless of series length
_ARROW_BUILD_CHUNK = 4096


def sliding_windows(
    df: DataFrame,
    value_col: str = "close",
    L: int = 256,
    pred_window: int = 0,
    part_col: str | list[str] = "symbol",
    idx_col: str = "time_idx",
    eps: float = EPS,
) -> DataFrame:
    """Returns (*part_cols, window_id, center, scale, xs[, future]).

    xs = z-scored L-length window (array<double>);
    center/scale = pre-normalization mean / stddev_pop;
    future = the P raw values following the window (if pred_window>0).
    """
    parts = [part_col] if isinstance(part_col, str) else list(part_col)
    if L + pred_window >= ARROW_BUILD_MIN_WIDTH:
        return _sliding_windows_arrow(
            df, value_col, L, pred_window, parts, idx_col, eps
        )
    base = Window.partitionBy(*parts).orderBy(idx_col)
    w_cur = base.rowsBetween(Window.currentRow, L - 1)
    v = F.col(value_col)

    out = df.select(
        *[F.col(c) for c in parts],
        F.col(idx_col).alias("window_id"),
        F.collect_list(v).over(w_cur).alias("__raw"),
        # window SUM rides the same frame in the same Window pass and
        # adds the frame's values in the same order the array fold
        # did (Sum's update is coalesce(sum, 0.0) + x per buffered
        # row, i.e. 0.0 + x1 + x2 + ... — bitwise the sequential left
        # fold), but runs as a codegen'd declarative aggregate instead
        # of an interpreted per-element lambda (guide §4.1). Rows
        # whose frame holds a NULL can't desync: collect_list drops
        # NULLs, so those rows fail the size == L guard below.
        F.sum(v).over(w_cur).alias("__s"),
        *(
            [
                F.collect_list(v)
                .over(base.rowsBetween(L, L + pred_window - 1))
                .alias("future")
            ]
            if pred_window
            else []
        ),
    ).filter(F.size("__raw") == L)

    mean = F.col("__s") / F.lit(float(L))
    out = out.withColumn("center", mean).drop("__s")
    var = (
        F.aggregate(
            "__raw",
            F.lit(0.0),
            lambda acc, x: acc + (x - F.col("center")) * (x - F.col("center")),
        )
        / F.lit(float(L))
    )
    out = out.withColumn("scale", F.sqrt(var))
    out = out.withColumn(
        "xs", zscore_array(F.col("__raw"), F.col("center"), F.col("scale"), eps)
    ).drop("__raw")
    cols = [*parts, "window_id", "center", "scale", "xs"]
    if pred_window:
        cols.append("future")
    return out.select(*cols)


def numpy_window_kernels(L: int, eps: float = EPS):
    """The NumPy window math of the wide routes — ``(series,
    starts_of, zscore)`` — shared by :func:`_sliding_windows_arrow`
    and ``operators.forecast.forecast_per_symbol`` so there is one
    copy of it. The functions are built here, not at module level,
    because Spark ships them to Python workers by value (workers do
    not import this package).

    - ``series(idx_a, val_a)`` -> ``(idx, v, bad)``: one group's rows
      sorted by the index as NumPy arrays; ``bad`` is the running
      count of NULL values (length n+1), or None when there are none.
    - ``starts_of(n, bad, width)``: row offsets whose next ``width``
      values are all non-NULL (the frame collect_list would fill).
    - ``zscore(v, st)`` -> ``(center, scale, xs)`` of the L-windows
      starting at ``st``; see :func:`_sliding_windows_arrow` for why
      these are the JVM path's doubles bit for bit.
    """
    import numpy as np

    jL = np.arange(L, dtype=np.int64)

    def series(idx_a, val_a):
        assert idx_a.null_count == 0, "window index must be non-null"
        idx = idx_a.to_numpy(zero_copy_only=False)
        order = np.argsort(idx, kind="stable")
        v = np.ascontiguousarray(
            val_a.to_numpy(zero_copy_only=False)[order]
        )
        bad = None
        if val_a.null_count:
            bad = np.zeros(idx.size + 1, dtype=np.int64)
            np.cumsum(
                np.asarray(val_a.is_null())[order].astype(np.int64),
                out=bad[1:],
            )
        return idx[order], v, bad

    def starts_of(n, bad, width):
        if n < width:
            return np.zeros(0, dtype=np.int64)
        if bad is None:
            return np.arange(n - width + 1, dtype=np.int64)
        return np.nonzero(bad[width:] - bad[: n + 1 - width] == 0)[0]

    def zscore(v, st):
        W = v[st[:, None] + jL]  # (m, L), all-valid by construction
        s = np.zeros(st.size, dtype=np.float64)
        for j in range(L):  # frame-order left fold, 0.0 + x1 + ...
            s += W[:, j]
        center = s / float(L)
        acc = np.zeros(st.size, dtype=np.float64)
        for j in range(L):  # same fold order as the aggregate lambda
            d = W[:, j] - center
            acc += d * d
        scale = np.sqrt(acc / float(L))
        xs = (W - center[:, None]) / (scale + eps)[:, None]
        return center, scale, xs

    return series, starts_of, zscore


def _sliding_windows_arrow(
    df: DataFrame,
    value_col: str,
    L: int,
    P: int,
    parts: list[str],
    idx_col: str,
    eps: float,
) -> DataFrame:
    """Vectorized window build: one ``applyInArrow`` pass per
    (*parts) group, NumPy inside (guide §4.2).

    Bitwise parity with the JVM path (same device as the r15 DCT
    chains — sequential WITHIN each window, vectorized ACROSS
    windows):

    - window sum accumulates ``acc = 0.0; acc += x_j`` in frame order
      (one vector add per j), identical to Sum's
      ``coalesce(null, 0.0) + x_1 + x_2 + ...`` left fold;
    - the variance fold adds ``(x_j - center)^2`` in the same frame
      order as the interpreted ``aggregate`` lambda;
    - center/scale/xs apply the same scalar IEEE ops per element
      (``/L``, ``sqrt``, ``(x - center) / (scale + eps)``).

    NULL semantics replicate collect_list exactly: a NULL inside a
    window's L-frame makes collect_list return < L values, so the
    window is dropped (here: an all-valid sliding test); a NULL in
    the future frame is compacted out of the (then shorter) future
    array. NaN VALUES are not NULLs and flow through both engines'
    arithmetic identically.

    Precondition: ``idx_col`` is non-null and unique within each
    group (upstream dedup/resample guarantee it). ``np.argsort``
    orders NaN last where Spark sorts NULLS FIRST, and a repeated
    index has no defined frame order, so either would silently
    diverge from the JVM path; the shared helper asserts the
    non-null half.

    Trade-off vs the JVM path (why small shapes keep it): the
    grouped Python pass drops Catalyst's knowledge of the upstream
    hash partitioning, so a downstream operator keyed on the parts
    re-shuffles the built arrays unless the consumer re-derives its
    keys from narrow rows (plans/flagship.py does). Per-task memory
    is O(group rows × (L+P) × 8B) for the returned group output;
    the NumPy working set is bounded by _ARROW_BUILD_CHUNK.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    in_schema = df.schema
    out_fields = [in_schema[c] for c in parts] + [
        StructField("window_id", in_schema[idx_col].dataType),
        StructField("center", DoubleType()),
        StructField("scale", DoubleType()),
        StructField("xs", ArrayType(DoubleType())),
    ]
    if P:
        out_fields.append(StructField("future", ArrayType(DoubleType())))
    out_schema = StructType(out_fields)

    n_parts = len(parts)
    chunk = _ARROW_BUILD_CHUNK
    series, starts_of, zscore = numpy_window_kernels(L, eps)

    def build(table: "pa.Table") -> "pa.Table":
        jP = np.arange(P, dtype=np.int64) if P else None
        list_t = pa.list_(pa.float64())

        def empty() -> "pa.Table":
            arrays = [table.column(i).slice(0, 0) for i in range(n_parts)]
            arrays.append(table.column(n_parts).slice(0, 0))  # window_id
            arrays += [pa.array([], pa.float64())] * 2
            arrays.append(pa.array([], list_t))
            if P:
                arrays.append(pa.array([], list_t))
            return pa.Table.from_arrays(
                arrays, names=[f.name for f in out_fields]
            )

        n = table.num_rows
        if n < L:
            return empty()
        # column order fixed by the select below: parts, idx, value
        idx_a = table.column(n_parts).combine_chunks()
        idx, v, bad = series(
            idx_a, table.column(n_parts + 1).combine_chunks()
        )
        starts = starts_of(n, bad, L)
        valid = None if bad is None else np.diff(bad) == 0
        if starts.size == 0:
            return empty()

        batches = []
        names = [f.name for f in out_fields]
        for c0 in range(0, starts.size, chunk):
            st = starts[c0 : c0 + chunk]
            m = st.size
            center, scale, xs = zscore(v, st)
            arrays = [
                pa.repeat(table.column(k)[0], m) for k in range(n_parts)
            ]
            arrays.append(pa.array(idx[st], type=idx_a.type))
            arrays.append(pa.array(center))
            arrays.append(pa.array(scale))
            xs_off = np.arange(m + 1, dtype=np.int32) * L
            arrays.append(
                pa.ListArray.from_arrays(
                    pa.array(xs_off), pa.array(xs.ravel())
                )
            )
            if P:
                pos = st[:, None] + L + jP  # (m, P)
                inb = pos < n
                posc = np.minimum(pos, n - 1)
                msk = inb & valid[posc] if valid is not None else inb
                f_lens = msk.sum(axis=1)
                f_off = np.zeros(m + 1, dtype=np.int64)
                np.cumsum(f_lens, out=f_off[1:])
                fvals = v[posc][msk]  # row-major: frame order per row
                arrays.append(
                    pa.ListArray.from_arrays(
                        pa.array(f_off.astype(np.int32)),
                        pa.array(fvals),
                    )
                )
            batches.append(
                pa.RecordBatch.from_arrays(arrays, names=names)
            )
        return pa.Table.from_batches(batches)

    return (
        df.select(*parts, idx_col, value_col)
        .groupBy(*parts)
        .applyInArrow(build, schema=out_schema)
    )
