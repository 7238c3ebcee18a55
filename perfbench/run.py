"""Benchmark entry point.

    python3 perfbench/run.py --workload candles_backtest --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts the engine's session (``session.get_spark`` at
local[<cores>]), runs one untimed warm-up operation, then times
operations for ``--seconds`` (at least one), checks every output, and
prints one JSON object as the last line of stdout:

- ``--trace 0``: the end-to-end metrics, measured with tracing off;
- ``--trace 1``: the per-layer metrics, from traced operations that
  alternate with untraced ones (their difference is the tracing
  overhead).

Everything the run writes stays under ``.bench_work/`` in the current
directory: inputs and outputs are removed at the end, the span file of a
traced run is kept in ``.bench_work/traces/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

import gen  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from stats import RssSampler, reportable  # noqa: E402

#: BENCHMARK.json lists the first two; the others run by hand (README.md)
WORKLOADS = ("candles_backtest", "candles_features", "serve_requests", "events_backtest")

END_TO_END_UNITS = {"setup_s": "s", "items_per_s": "1/s"}

#: per-layer metric -> unit; the layer each one belongs to is its prefix
PER_LAYER_UNITS = {
    "plans.build_s": "s",
    "plans.call_s": "s",
    "sources.scan_s": "s",
    "sources.rows_read": "count",
    "cleaning.dedup_s": "s",
    "cleaning.dups_dropped": "count",
    "cleaning.split_s": "s",
    "resample.s": "s",
    "resample.buckets_out": "count",
    "gapfill.s": "s",
    "gapfill.amplification": "ratio",
    "windows.s": "s",
    "windows.built": "count",
    "windows.used_ratio": "ratio",
    "windows.array_mb": "MB",
    "forecast.inputs_s": "s",
    "forecast.plan_s": "s",
    "forecast.s": "s",
    "forecast.queries": "count",
    "forecast.pairs_scored": "count",
    "forecast.pairs_per_query": "count",
    "rolling.s": "s",
    "smoothing.s": "s",
    "sink.write_s": "s",
    "sink.bytes_written": "bytes",
    "action.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "jvm.gc_ms": "ms",
    "trace.count_s": "s",
    "trace.overhead_s": "s",
    "process.peak_rss_mb": "MB",
}

#: span name -> the per-layer metric that reports its self time
SPAN_SELF_METRIC = {
    "plans": "plans.build_s",
    "sources": "sources.scan_s",
    "cleaning.dedup": "cleaning.dedup_s",
    "cleaning.split": "cleaning.split_s",
    "resample": "resample.s",
    "gapfill": "gapfill.s",
    "windows": "windows.s",
    "forecast.inputs": "forecast.inputs_s",
    "forecast.plan": "forecast.plan_s",
    "forecast": "forecast.s",
    "rolling": "rolling.s",
    "smoothing": "smoothing.s",
    "sink": "sink.write_s",
    "action": "action.s",
    "trace.count": "trace.count_s",
}

#: what items_per_s counts, per workload
ITEM_NAMES = {
    "candles_backtest": "forecasts_per_s",
    "candles_features": "feature_rows_per_s",
    "serve_requests": "requests_per_s",
    "events_backtest": "forecasts_per_s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def say(msg: str) -> None:
    print(msg, flush=True)


class Outcome:
    """Attempted/failed bookkeeping for operations and checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def attempt(self, fn):
        """Run one operation; count it; None if it raised."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.failed += 1
            traceback.print_exc()
            return None


def gc_ms(spark) -> int:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(int(beans.get(i).getCollectionTime()) for i in range(beans.size()))


def settle(spark, pause: float = 1.0) -> None:
    """Let the JVM finish what the warm-up left queued — a full GC, and
    a pause for background JIT compilation — so the first timed pass
    does not start inside the warm-up's tail."""
    spark.sparkContext._jvm.java.lang.System.gc()
    time.sleep(pause)


def make_workload(name, seed, spark, in_dir, out_dir, data):
    import workloads as w

    if name == "candles_backtest":
        return w.Backtest(spark, in_dir, [w.CANDLE_PARAMS])
    if name == "events_backtest":
        return w.Backtest(spark, in_dir, w.EVENT_PARAMS)
    if name == "serve_requests":
        return w.ServeRequests(spark, in_dir, seed)
    return w.CandleFeatures(spark, in_dir, out_dir, data)


def write_inputs(name, seed, in_dir):
    if name == "events_backtest":
        data = gen.make_events(seed)
        gen.write_events(data, in_dir)
        n_sym = len(set(data["user_id"].tolist()))
        return data, f"events: {len(data['event_id'])} rows over {n_sym} symbols"
    data = gen.make_candles(seed)
    gen.write_candles(data, in_dir)
    return data, f"candles: {len(data['seq'])} rows over {len(gen.SYMBOLS)} symbols"


def layer_metrics(tr, untraced_ids, traced_ids) -> dict[str, float]:
    """Per-layer metrics: medians over the traced operations (layer
    self times and counts) and over the untraced ones (jobs, GC, the
    plan-building call)."""

    def per_op(run_id):
        spans = tr.run_spans(run_id)
        st = self_times(spans)
        m = defaultdict(float)
        c = defaultdict(lambda: defaultdict(float))
        for s in spans:
            if s.name in SPAN_SELF_METRIC:
                m[SPAN_SELF_METRIC[s.name]] += st[s.id]
            for k, v in s.counts.items():
                c[s.name][k] += v
        m["sources.rows_read"] = c["sources"]["rows_read"]
        m["cleaning.dups_dropped"] = c["cleaning.dedup"]["rows_in"] - c["cleaning.dedup"]["rows_out"]
        m["resample.buckets_out"] = c["resample"]["buckets_out"]
        g = c["gapfill"]
        m["gapfill.amplification"] = g["rows_out"] / g["rows_in"] if g["rows_in"] else 0.0
        w, f = c["windows"], c["forecast"]
        m["windows.built"] = w["built"]
        m["windows.array_mb"] = w["array_values"] * 8 / 2**20
        used = f["queries"] + f["candidates"]
        m["windows.used_ratio"] = used / w["built"] if w["built"] else 0.0
        m["forecast.queries"] = f["queries"]
        m["forecast.pairs_scored"] = f["pairs_scored"]
        m["forecast.pairs_per_query"] = f["pairs_scored"] / f["queries"] if f["queries"] else 0.0
        m["sink.bytes_written"] = c["sink"]["bytes_written"]
        root = spans[0]
        m["op_s"] = root.end - root.start
        return m

    traced = [per_op(r) for r in traced_ids]
    untraced = [per_op(r) for r in untraced_ids]
    out = {k: statistics.median(t[k] for t in traced) for k in PER_LAYER_UNITS if k in traced[0]}
    for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed", "jvm.gc_ms"):
        out[k] = statistics.median(
            sum(s.counts.get(k, 0) for s in tr.run_spans(r)) for r in untraced_ids
        )
    out["trace.overhead_s"] = statistics.median(t["op_s"] for t in traced) - statistics.median(
        u["op_s"] for u in untraced
    )
    return {k: out.get(k, 0.0) for k in PER_LAYER_UNITS}


def stop_session(spark, seen_pids: set[int]) -> None:
    """Stop Spark, then the JVM, then wait for every process the run
    started (Python workers included) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)
    me = os.getpid()
    deadline = time.monotonic() + 30
    for pid in sorted(seen_pids - {me}):
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)  # the engine package, from the checkout root
    # import the engine first: without it the run fails before any work
    import workloads  # noqa: F401

    work = os.path.join(root, ".bench_work")
    run_dir = os.path.join(work, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's scratch space, the JVM's and Python's temp files inside
    # the run dir; the JVM's perf-counter file would otherwise go to /tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    ).strip()

    try:
        t = time.perf_counter()
        data, inputs_desc = write_inputs(args.workload, args.seed, os.path.join(run_dir, "in"))
        inputs_s = time.perf_counter() - t

        from big_data_stock_price_forecast_spark.session import get_spark

        t = time.perf_counter()
        cores = len(os.sched_getaffinity(0))
        spark = get_spark(app_name="perfbench", cpus=cores)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        sampler = RssSampler(os.getpid())
        try:
            result = run_phases(args, spark, data, run_dir, sampler)
        finally:
            sampler.sample()
            stop_session(spark, sampler.seen)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    say(f"inputs: {inputs_desc} (generated in {inputs_s:.3f} s)")
    say(f"session start: {session_s:.3f} s on local[{cores}]")
    for line in result["lines"]:
        say(line)
    print(json.dumps(result["json"]), flush=True)
    return 0


def run_phases(args, spark, data, run_dir, sampler) -> dict:
    out = Outcome()
    wl = make_workload(
        args.workload, args.seed, spark, os.path.join(run_dir, "in"),
        os.path.join(run_dir, "out"), data,
    )
    lines = wl.prepare() if hasattr(wl, "prepare") else []

    # set-up ends with one untimed warm-up operation: the first pass
    t = time.perf_counter()
    first = out.attempt(wl.run)
    warmup_s = time.perf_counter() - t
    settle(spark)
    setup_s = time.perf_counter() - T_START
    lines.append(f"warm-up pass: {warmup_s:.3f} s")

    results, traced_flags, op_s = [], [], []
    tr = Tracer(spark.sparkContext) if args.trace else None
    untraced_ids, traced_ids = [], []
    sampler.start()
    t_phase = time.perf_counter()
    i = 0
    while i == 0 or time.perf_counter() - t_phase < args.seconds:
        if tr is None:
            t = time.perf_counter()
            res = out.attempt(wl.run)
            op_s.append(time.perf_counter() - t)
            results.append(res)
            traced_flags.append(False)
        else:
            for mode in ("u", "t"):
                tr.run_id = f"{mode}{i}"
                g0 = gc_ms(spark)
                with tr.span("op") as s:
                    res = out.attempt(wl.run if mode == "u" else lambda: wl.run_traced(tr))
                s.counts["jvm.gc_ms"] = gc_ms(spark) - g0
                tr.spark_counts(tr.run_spans(tr.run_id))
                (untraced_ids if mode == "u" else traced_ids).append(tr.run_id)
                results.append(res)
                traced_flags.append(mode == "t")
        i += 1
    sampler.stop()
    timed_s = time.perf_counter() - t_phase

    peak_mb = sampler.peak / 2**20
    lines.append(f"peak_rss_mb={peak_mb!r} MB (process tree, timed phase)")

    # output check, outside the timed region
    ok_results = [r for r in results if r is not None]
    ok_flags = [t for r, t in zip(results, traced_flags) if r is not None]
    if first is None:
        first_ok, same, note = False, [], "warm-up pass raised"
    else:
        try:
            note, first_ok, same = wl.check(first, ok_results, ok_flags)
        except Exception:  # noqa: BLE001 — a check that raises fails the run
            traceback.print_exc()
            note, first_ok, same = "output check raised", False, [False] * len(ok_results)
        if not first_ok:
            out.failed += 1
        out.failed += sum(not s for s in same)
    lines.append(f"check: {note}; {sum(same)}/{len(ok_results)} later passes pass the check")
    lines.append(
        f"error_rate={out.failed / out.attempted!r} ratio ({out.failed} failed / {out.attempted} attempted)"
    )

    items = wl.items(first) if first is not None else 0
    if tr is None:
        med = statistics.median(op_s)
        metrics = {"setup_s": setup_s, "items_per_s": items / med}
        tail = {k: v * 1e3 for k, v in reportable(op_s, ps=(90, 99, 99.9)).items()}
        lines.append(f"setup_s={setup_s!r} s (process start to first timed operation)")
        lines.append("timed operations (s): " + " ".join(f"{x:.3f}" for x in op_s))
        lines.append(
            f"{ITEM_NAMES[args.workload]}={metrics['items_per_s']!r} 1/s "
            f"({items} per operation, {len(op_s)} operations in {timed_s:.1f} s)"
        )
        lines.append(
            f"latency: median {med * 1e3!r} ms over n={len(op_s)}; "
            + (f"tail (ms) {tail}" if tail else "no tail percentile has >=10 samples beyond it")
        )
        units = END_TO_END_UNITS
    else:
        metrics = layer_metrics(tr, untraced_ids, traced_ids)
        metrics["plans.call_s"] = statistics.median(wl.plan_times[1:] or wl.plan_times)
        metrics["process.peak_rss_mb"] = peak_mb
        os.makedirs(os.path.join(os.getcwd(), ".bench_work", "traces"), exist_ok=True)
        span_file = os.path.join(
            ".bench_work", "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.json"
        )
        tr.dump(span_file)
        lines.append(f"spans: {len(tr.spans)} written to {span_file}")
        for k, v in metrics.items():
            lines.append(f"{k}={v!r} {PER_LAYER_UNITS[k]}")
        units = PER_LAYER_UNITS

    return {
        "lines": lines,
        "json": {
            "correct": out.failed == 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        },
    }


if __name__ == "__main__":
    sys.exit(main())
