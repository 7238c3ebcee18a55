"""One Arrow pass per series for NumPy feature kernels.

:func:`series_pass` runs kernels over each series' rows inside a single
``groupBy(part_col).applyInArrow``: the group's rows are sorted by
``idx_col`` once, every input column passes through as an Arrow array,
and the kernels' columns are appended (a name that already exists is
replaced in place, as ``withColumns`` does). NaN in a kernel column is
written as NULL, as the pandas route does.

Passes fuse lazily across calls. The DataFrame a pass returns remembers
its source and kernel list; handing it straight back to
:func:`series_pass` with the same keys rebuilds ONE pass from that
source with the kernels concatenated, so a chain of independently
written feature functions (the indicator batteries, Savitzky–Golay,
the EMA family) runs as a single loop over each series — the shape
Weld (Palkar et al., CIDR 2017) gives separately written library
calls. Any other transformation in between starts a new pass: correct,
not fused.

A kernel is a function ``kernel(cols) -> {name: float64 array}``.
``cols[name]`` is a column of the series as float64 in index order,
NULL as NaN; a later kernel sees the columns earlier kernels of the
same pass produced. ``cols.need(name)`` is the same array, but raises
``ValueError`` naming the column and the series when it holds a NULL —
for kernels whose arithmetic has no NULL semantics (a recursion would
carry the NaN through the rest of the series).

Kernels travel to the Python workers by value, so they (and helpers
such as :func:`frame_ops`) are built inside functions: a reference to
a module-level function of this package would make the worker import
the package, which fails when it runs from another directory.

Precondition: ``idx_col`` is non-null and unique within each series
(the gap fill guarantees it); a repeated index has no defined order.
Per-group memory is the series' rows, as with ``applyInPandas``.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType


class _Pass(NamedTuple):
    source: DataFrame
    kernels: tuple  # each kernel pickled once, see series_pass
    out_fields: tuple
    part_col: str
    idx_col: str


def series_pass(
    df: DataFrame,
    kernel: Callable,
    out_fields: Sequence[str],
    part_col: str = "symbol",
    idx_col: str = "time_idx",
) -> DataFrame:
    """Run ``kernel`` over each ``part_col`` series of ``df`` sorted by
    ``idx_col``; ``out_fields`` names the DOUBLE columns it returns, in
    output order. Fuses with the pass that produced ``df`` when ``df``
    is that pass's unmodified output with the same keys."""
    # A fused pass ships every kernel again; pickling each one once
    # here keeps a chain of k calls at k kernel pickles, not k(k+1)/2
    # (cloudpickle scans sys.modules for every function it ships).
    blob = cloudpickle.dumps(kernel)
    prev = vars(df).get("_series_pass")
    keys = (part_col, idx_col)
    if prev is not None and (prev.part_col, prev.idx_col) == keys:
        p = _Pass(
            prev.source,
            prev.kernels + (blob,),
            prev.out_fields + tuple(out_fields),
            part_col,
            idx_col,
        )
    else:
        p = _Pass(df, (blob,), tuple(out_fields), part_col, idx_col)

    fields = list(p.source.schema.fields)
    pos = {f.name: i for i, f in enumerate(fields)}
    for name in p.out_fields:
        if name in pos:
            fields[pos[name]] = StructField(name, DoubleType())
        else:
            pos[name] = len(fields)
            fields.append(StructField(name, DoubleType()))
    schema = StructType(fields)
    run = _pass_fn(p.kernels, schema.names, part_col, idx_col)
    out = p.source.groupBy(part_col).applyInArrow(run, schema=schema)
    out._series_pass = p
    return out


def _pass_fn(blobs, names, part_col, idx_col):
    """The worker function of one pass (built here so it ships by
    value, see the module docstring); it unpickles the kernels on its
    first group."""
    import numpy as np

    kernels = []

    class Cols:
        def __init__(self, table):
            self.table = table
            self.made = {}
            self._cache = {}
            self.key = table.column(part_col)[0].as_py()

        def __getitem__(self, name):
            if name in self.made:
                return self.made[name]
            if name not in self._cache:
                import pyarrow as pa

                col = self.table.column(name).cast(pa.float64())
                self._cache[name] = np.asarray(
                    col.to_numpy(), dtype=np.float64
                )
            return self._cache[name]

        def need(self, name):
            x = self[name]
            if np.isnan(x).any():
                raise ValueError(
                    f"column {name!r} of series {self.key!r} holds NULL "
                    "(or NaN) values; this kernel needs gap-filled, "
                    "non-null input"
                )
            return x

    def run(table):
        import pickle

        import pyarrow as pa

        if not kernels:
            kernels.extend(pickle.loads(b) for b in blobs)
        idx_a = table.column(idx_col)
        if idx_a.null_count:
            raise ValueError(f"series index {idx_col!r} holds NULL values")
        idx = idx_a.to_numpy()
        if idx.size > 1 and not (idx[1:] >= idx[:-1]).all():
            table = table.take(np.argsort(idx, kind="stable"))
        cols = Cols(table)
        # NaN and inf are expected values here (NULL, guarded divisions)
        with np.errstate(divide="ignore", invalid="ignore"):
            for kernel in kernels:
                cols.made.update(kernel(cols))
        arrays = [
            pa.array(cols.made[n], type=pa.float64(), from_pandas=True)
            if n in cols.made
            else table.column(n)
            for n in names
        ]
        return pa.Table.from_arrays(arrays, names=list(names))

    return run


def frame_ops():
    """NumPy restatements of the Spark window arithmetic the kernels
    replace, bit for bit on NULL-free (NaN-free) input; NULL is NaN.
    The pass runs kernels with NumPy's divide/invalid warnings off.

    - ``fsum``/``favg``: a trailing ``n``-row frame (``rowsBetween(-(n-1),
      0)``, partial frames at the start) aggregated as Spark's sliding
      frame re-aggregates it — a left fold ``((0.0 + x_{i-n+1}) + ...) +
      x_i`` in frame order, NULLs skipped, NULL when the frame holds no
      value; the average divides by the frame's value count.
    - ``fstd``: population stddev with ``CentralMomentAgg``'s update
      order (n += 1; delta = x - avg; avg += delta / n; m2 += delta *
      (delta - delta / n)) over the same frames.
    - ``fmax``/``fmin``: frame extremes, NULLs skipped.
    - ``cumsum``: the unbounded running sum (``np.cumsum`` is a
      sequential fold), NULLs skipped.
    - ``lag``/``lead``: shifted columns, NULL where no row exists.
    - ``div``: ``a / nullif(b, 0.0)``.
    - ``guard``: ``when(row_number >= k, x)``.
    - ``argext``: 0-based position of the first frame maximum
      (``np.argmax``) or minimum over full ``n``-row frames, NaN
      before the first full frame.
    - ``ewm``: ``y = (1 - a) * y + a * x`` seeded ``y_0 = x_0`` over a
      NULL-free array, a Python loop in that operand order.
    - ``log``: natural log as Spark's ``LOG`` computes it — Java's
      ``StrictMath.log``, i.e. fdlibm's ``__ieee754_log`` step for step
      (``np.log`` differs from it in the last bit on ~1 in 5 inputs
      and varies with the CPU's SIMD path); NULL for x <= 0.
    - ``on_valid(x, fn)``: ``fn`` over the non-NULL entries of ``x`` in
      order, scattered back — NULL rows carry a recursion's state and
      emit NULL; ``carried(x, fn)`` also fills the NULL rows with the
      state carried from the last non-NULL row (NULL before it).
    """
    from types import SimpleNamespace

    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    def _padded(x, n, fill):
        return np.concatenate([np.full(n - 1, fill), x])

    def fsum_count(x, n):
        N = x.size
        nan = np.isnan(x)
        xp = _padded(np.where(nan, 0.0, x), n, 0.0)
        vp = _padded(~nan, n, False)
        s = np.zeros(N)
        cnt = np.zeros(N, dtype=np.int64)
        for j in range(n):
            # a NULL adds 0.0, which is the same as skipping it: s
            # starts at +0.0, so no sum of doubles makes it -0.0
            s += xp[j : j + N]
            cnt += vp[j : j + N]
        s[cnt == 0] = np.nan
        return s, cnt

    def fsum(x, n):
        return fsum_count(x, n)[0]

    def favg(x, n):
        s, cnt = fsum_count(x, n)
        return np.where(cnt == 0, np.nan, s / cnt)

    def fstd(x, n):
        N = x.size
        nan = np.isnan(x)
        xp = _padded(np.where(nan, 0.0, x), n, 0.0)
        vp = _padded(~nan, n, False)
        cnt, avg, m2 = np.zeros(N), np.zeros(N), np.zeros(N)
        for j in range(n):
            v = vp[j : j + N]
            new_n = cnt + 1.0
            delta = xp[j : j + N] - avg
            delta_n = delta / new_n
            cnt = np.where(v, new_n, cnt)
            avg = np.where(v, avg + delta_n, avg)
            m2 = np.where(v, m2 + delta * (delta - delta_n), m2)
        return np.where(cnt == 0.0, np.nan, np.sqrt(m2 / cnt))

    def _ext(x, n, fill, reduce):
        xp = _padded(np.where(np.isnan(x), fill, x), n, fill)
        out = reduce(sliding_window_view(xp, n), axis=1)
        return np.where(out == fill, np.nan, out)

    def fmax(x, n):
        return _ext(x, n, -np.inf, np.max)

    def fmin(x, n):
        return _ext(x, n, np.inf, np.min)

    def argext(x, n, reduce):
        out = np.full(x.size, np.nan)
        if x.size >= n:
            out[n - 1 :] = reduce(sliding_window_view(x, n), axis=1)
        return out

    def cumsum(x):
        nan = np.isnan(x)
        s = np.cumsum(np.concatenate([[0.0], np.where(nan, 0.0, x)]))[1:]
        seen = np.logical_or.accumulate(~nan)
        return np.where(seen, s, np.nan)

    def lag(x, k=1):
        out = np.full(x.size, np.nan)
        if k < x.size:
            out[k:] = x[: x.size - k]
        return out

    def lead(x, k=1):
        out = np.full(x.size, np.nan)
        if k < x.size:
            out[: x.size - k] = x[k:]
        return out

    def div(a, b):
        return np.where(b == 0.0, np.nan, a / b)

    def guard(x, k):
        out = np.array(x, dtype=np.float64)
        out[: k - 1] = np.nan
        return out

    def coalesce(x, v):
        return np.where(np.isnan(x), v, x)

    def ewm(x, a):
        b = 1.0 - a
        xs = x.tolist()
        ys = [0.0] * len(xs)
        if xs:
            y = xs[0]
            ys[0] = y
            for i in range(1, len(xs)):
                y = b * y + a * xs[i]
                ys[i] = y
        return np.array(ys, dtype=np.float64)

    ln2_hi, ln2_lo = 6.93147180369123816490e-01, 1.90821492927058770002e-10
    lg = (
        6.666666666666735130e-01, 3.999999999940941908e-01,
        2.857142874366239149e-01, 2.222219843214978396e-01,
        1.818357216161805012e-01, 1.531383769920937332e-01,
        1.479819860511658591e-01,
    )

    def log(x):
        x = np.array(x, dtype=np.float64)
        ok = (x > 0.0) & (x < np.inf)
        inf = x == np.inf
        x[~ok] = 1.0
        sub = x < 2.2250738585072014e-308  # subnormal: scale by 2**54
        x[sub] *= 1.80143985094819840000e16
        bits = x.view(np.int64)
        hx, lx = bits >> 32, bits & 0xFFFFFFFF
        k = np.where(sub, -54, 0) + (hx >> 20) - 1023
        hx = hx & 0x000FFFFF
        i = (hx + 0x95F64) & 0x100000
        x = (((hx | (i ^ 0x3FF00000)) << 32) | lx).view(np.float64)
        k = k + (i >> 20)
        f = x - 1.0
        dk = k.astype(np.float64)
        # |f| < 2**-20
        r = f * f * (0.5 - 0.33333333333333333 * f)
        tiny = np.where(
            f == 0.0,
            np.where(k == 0, 0.0, dk * ln2_hi + dk * ln2_lo),
            np.where(k == 0, f - r, dk * ln2_hi - ((r - dk * ln2_lo) - f)),
        )
        s = f / (2.0 + f)
        z = s * s
        w = z * z
        t1 = w * (lg[1] + w * (lg[3] + w * lg[5]))
        t2 = z * (lg[0] + w * (lg[2] + w * (lg[4] + w * lg[6])))
        r = t2 + t1
        hfsq = 0.5 * f * f
        wide = np.where(
            k == 0,
            f - (hfsq - s * (hfsq + r)),
            dk * ln2_hi - ((hfsq - (s * (hfsq + r) + dk * ln2_lo)) - f),
        )
        near = np.where(
            k == 0,
            f - s * (f - r),
            dk * ln2_hi - ((s * (f - r) - dk * ln2_lo) - f),
        )
        out = np.where(((hx - 0x6147A) | (0x6B851 - hx)) > 0, wide, near)
        out = np.where(((2 + hx) & 0x000FFFFF) < 3, tiny, out)
        out[~ok] = np.nan
        out[inf] = np.inf
        return out

    def on_valid(x, fn):
        ok = ~np.isnan(x)
        out = np.full(x.size, np.nan)
        if ok.any():
            out[ok] = fn(x[ok])
        return out

    def carried(x, fn):
        ok = ~np.isnan(x)
        last = np.maximum.accumulate(np.where(ok, np.arange(x.size), -1))
        y = on_valid(x, fn)
        return np.where(last >= 0, y[np.maximum(last, 0)], np.nan)

    return SimpleNamespace(
        fsum=fsum, favg=favg, fstd=fstd, fmax=fmax, fmin=fmin,
        argext=argext, cumsum=cumsum, lag=lag, lead=lead, div=div,
        guard=guard, coalesce=coalesce, ewm=ewm, log=log,
        on_valid=on_valid, carried=carried,
    )
