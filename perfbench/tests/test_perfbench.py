"""The benchmark's own tests: deterministic inputs, span self time and
the percentile rule. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402
from stats import percentile, reportable, tree_rss_bytes  # noqa: E402


def _same(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(np.array_equal(a[k], b[k]) for k in a)


def test_candles_are_deterministic_per_seed():
    assert _same(gen.make_candles(7), gen.make_candles(7))
    assert not _same(gen.make_candles(7), gen.make_candles(8))


def test_events_are_deterministic_per_seed():
    assert _same(gen.make_events(7), gen.make_events(7))
    assert not _same(gen.make_events(7), gen.make_events(8))


def test_candle_parquet_bytes_repeat(tmp_path):
    gen.write_candles(gen.make_candles(3), str(tmp_path / "a"))
    gen.write_candles(gen.make_candles(3), str(tmp_path / "b"))
    for name in ("candles.parquet", "events.parquet"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


def test_candles_carry_the_fixture_irregularities():
    c = gen.make_candles(5)
    rows = gen.candle_rows()
    gaps = sum(int(round(n * gen.GAP_FRAC)) for n in rows)
    on_time = sum(rows) - gaps
    assert len(c["seq"]) == on_time + int(round(on_time * gen.DUP_FRAC))
    key = c["symbol_id"] * (1 << 40) + c["datetime"] // gen.HOUR_US
    assert len(np.unique(key)) == on_time  # every duplicate repeats an on-time key
    assert np.all(np.diff(c["seq"]) == 1)  # seq is arrival order
    assert np.all(c["high"] >= np.maximum(c["open"], c["close"]))
    assert np.all(c["low"] <= np.minimum(c["open"], c["close"]))


def test_keep_last_sum_takes_the_late_duplicate():
    c = {
        "symbol_id": np.array([0, 0, 1, 0]),
        "datetime": np.array([0, 1, 0, 1]) * gen.HOUR_US,
        "seq": np.arange(4),
        "close": np.array([1.0, 2.0, 4.0, 8.0]),
    }
    assert gen.keep_last_close_sum(c) == 1.0 + 4.0 + 8.0


def _span(i, parent, start, end, name="x"):
    return Span(id=i, name=name, parent=parent, run_id="r", start=start, end=end)


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 4.0, 8.0),
        _span(3, 2, 5.0, 6.0),
    ]
    st = self_times(spans)
    assert st == {0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_self_time_merges_overlapping_children_and_clips():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 5.0),
        _span(2, 0, 4.0, 7.0),  # overlaps span 1: union is 2..7
        _span(3, 0, 9.0, 12.0),  # runs past its parent: clipped to 9..10
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_tracer_nests_spans_and_self_times_sum_to_root(tmp_path):
    ticks = iter(range(100))
    tr = Tracer(clock=lambda: float(next(ticks)))
    tr.run_id = "op1"
    with tr.span("op"):
        with tr.span("a"):
            with tr.span("b"):
                pass
        with tr.span("c"):
            pass
    names = {s.name: s for s in tr.run_spans("op1")}
    assert names["b"].parent == names["a"].id
    assert names["c"].parent == names["op"].id
    st = self_times(tr.spans)
    root = names["op"]
    assert sum(st.values()) == pytest.approx(root.end - root.start)
    tr.dump(str(tmp_path / "spans.json"))
    rows = json.loads((tmp_path / "spans.json").read_text())
    assert [(r["name"], r["start"], r["self_s"]) for r in rows][:2] == [("op", 0.0, 3.0), ("a", 1.0, 2.0)]


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(19)), 50) is None
    assert percentile(list(range(1, 21)), 50) == 10
    assert percentile(list(range(1, 100)), 90) is None
    assert percentile(list(range(1, 101)), 90) == 90
    assert percentile([], 50) is None


def test_reportable_keeps_only_supported_percentiles():
    assert reportable([1.0] * 5) == {}
    assert set(reportable(list(range(100)))) == {"p50", "p90"}
    assert set(reportable(list(range(1000)))) == {"p50", "p90", "p99"}


def test_tree_rss_covers_this_process():
    rss, pids = tree_rss_bytes(os.getpid())
    assert os.getpid() in pids and rss > 0
