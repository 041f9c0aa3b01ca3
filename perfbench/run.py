"""Benchmark of the engine's flagship pipeline, Demo2 (windowed clicks per
user per minute), driven only through the public surface: `get_spark` and
`streaming.demos.demo2_pipeline`.

Run from the root of a checkout:

    python3 perfbench/run.py --workload demo2_backlog --seed 1 \
        --seconds 30 --trace 0

Workloads, each one client in a closed loop (the next op starts when the
previous one has returned), inputs generated from `--seed`:

  demo2_backlog     one op drains a seeded backlog of click messages with
                    finalize=True into a fresh sink and checkpoint.
  demo2_microbatch  one op lands one new file in the watched directory and
                    drains it with finalize=False; one checkpoint and sink
                    serve the whole run.

Every op's sink is compared with counts computed from the generator's own
records; a difference fails the op. Ops are warmed to steady state before
timing, and the session cache is cleared before each op.

The last line of standard output is the result object. The line before it
records host conditions (not metrics). `--trace 0` reports the end-to-end
metrics; `--trace 1` registers a progress listener and reports the
per-layer metrics instead.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

import numpy as np  # noqa: E402

import demo2data as d  # noqa: E402
import hostinfo  # noqa: E402
import tracing  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# A finalize=True drain costs about 2.3 s whatever its size (query start,
# batch scheduling, finalize's extra batch job) plus about 0.7 s per 100k
# events on 4 vCPUs, so 400k events (about 21 MiB) puts most of an op in
# work that grows with data, while a run still fits the time budget.
BACKLOG_EVENTS = 400_000
BACKLOG_FILES = 20
BACKLOG_EVENTS_PER_S = 250  # event-time rate: 400k events span 27 minutes
MICRO_EVENTS = 10_000  # per landed file, spanning one window of event time
MICRO_LATE = 0.01
# Warm-up ops before timing, counted in setup_s. The first op in a fresh JVM
# takes about 3x (backlog) to 7x (micro-batch) the steady time; backlog
# drains are within about 20 % of the timed median by the 4th op, micro-batch
# drains by about the 12th. A 5th backlog warm-up did not narrow the spread
# over runs and would not fit the run budget.
BACKLOG_WARM_OPS = 4
MICRO_WARM_OPS = 12
PROBE_REPEATS = 2


@dataclass
class Op:
    seconds: float
    events: int  # well-formed events in the op's input
    error: str | None
    queries: list
    start_s: float  # until demo2_pipeline returned
    sink: str
    late: int  # too-late events generated for this op


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _dropped(queries) -> int:
    return sum(
        s.numRowsDroppedByWatermark
        for q in queries
        for p in q.recentProgress
        for s in p.stateOperators
    )


class Backlog:
    """demo2_backlog: drain the same seeded backlog into fresh dirs."""

    finalize = True

    def __init__(self, seed: int) -> None:
        self.src = os.path.join(WORK, "backlog")
        os.makedirs(self.src)
        rng = np.random.default_rng([seed, 0])
        t0 = 1_700_000_000 + (seed % 10_000) * 3600
        per_file = BACKLOG_EVENTS // BACKLOG_FILES
        span = per_file // BACKLOG_EVENTS_PER_S
        expected = d.Expected()
        self.events = 0
        for f in range(BACKLOG_FILES):
            b = d.make_batch(rng, per_file, t0 + f * span, span, d.Traffic())
            d.write_lines(os.path.join(self.src, f"clicks-{f:03d}.json"), b.lines)
            expected.add(b)
            self.events += per_file - b.malformed
        self.want = expected.counts()

    def op(self, spark, demo2_pipeline) -> Op:
        sink = _fresh(os.path.join(WORK, "op", "sink"))
        ckpt = _fresh(os.path.join(WORK, "op", "checkpoint"))
        t0 = time.perf_counter()
        result = demo2_pipeline(spark, self.src, sink, ckpt, finalize=True)
        seconds = time.perf_counter() - t0
        error = d.mismatch(d.read_sink(sink), self.want)
        if error is None and _dropped(result.queries):
            error = f"{_dropped(result.queries)} rows dropped, none late"
        return Op(seconds, self.events, error, result.queries, seconds, sink, 0)

    def probe_input(self) -> str:
        return self.src


class Microbatch:
    """demo2_microbatch: land one file, drain it; the stream persists."""

    finalize = False

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.src = os.path.join(WORK, "watched")
        self.sink = os.path.join(WORK, "sink")
        self.ckpt = os.path.join(WORK, "checkpoint")
        os.makedirs(self.src)
        self.t0 = 1_700_000_000 + (seed % 10_000) * 3600
        self.expected = d.Expected()
        self.k = 0
        self.max_time: int | None = None
        self.last_file = ""

    def op(self, spark, demo2_pipeline) -> Op:
        k = self.k
        self.k += 1
        watermark = (
            None if self.max_time is None else self.max_time - d.WATERMARK_DELAY_S
        )
        b = d.make_batch(
            np.random.default_rng([self.seed, 1, k]),
            MICRO_EVENTS,
            self.t0 + k * d.WINDOW_S,
            d.WINDOW_S,
            d.Traffic(late=MICRO_LATE),
            watermark=watermark,
        )
        self.last_file = os.path.join(self.src, f"clicks-{k:05d}.json")
        d.write_lines(self.last_file, b.lines)
        t0 = time.perf_counter()
        result = demo2_pipeline(spark, self.src, self.sink, self.ckpt, finalize=False)
        start_s = time.perf_counter() - t0
        result.wait_until_finish()
        seconds = time.perf_counter() - t0
        self.expected.add(b)
        top = int(b.times.max())
        self.max_time = top if self.max_time is None else max(self.max_time, top)
        closed_by = self.max_time - d.WATERMARK_DELAY_S
        error = d.mismatch(
            d.read_sink(self.sink), self.expected.counts(closed_by=closed_by)
        )
        if error is None and _dropped(result.queries) != b.late:
            error = f"{_dropped(result.queries)} rows dropped, {b.late} late"
        events = MICRO_EVENTS - b.malformed
        return Op(seconds, events, error, result.queries, start_s, self.sink, b.late)

    def probe_input(self) -> str:
        probe = _fresh(os.path.join(WORK, "probe_src"))
        os.makedirs(probe)
        shutil.copy(self.last_file, probe)
        return probe


WORKLOADS = {"demo2_backlog": Backlog, "demo2_microbatch": Microbatch}
WARM_OPS = {"demo2_backlog": BACKLOG_WARM_OPS, "demo2_microbatch": MICRO_WARM_OPS}


def _start_spark(cpus: int):
    from tutorial_apache_beam_spark import get_spark

    return get_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _stop_spark(spark) -> None:
    """Stop the context, then the JVM it was launched in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _probe_layers(spark, src: str, layers, plans: bool) -> None:
    """Batch and fresh-stream timings over one op's input: bare scan,
    parse and windowed count (each as self time), drain, finalize. With
    `plans`, the drain's start and wait also give plans.start_s and
    plans.wait_s."""
    from tutorial_apache_beam_spark.operators.etl import parse_click_messages
    from tutorial_apache_beam_spark.operators.windowing import tumbling_counts
    from tutorial_apache_beam_spark.streaming.demos import demo2_pipeline

    def timed_write(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def fresh_dirs() -> tuple[str, str]:
        return (
            _fresh(os.path.join(WORK, "probe", "sink")),
            _fresh(os.path.join(WORK, "probe", "checkpoint")),
        )

    for _ in range(PROBE_REPEATS):
        spark.catalog.clearCache()
        scan = timed_write(spark.read.text(src))
        parsed = parse_click_messages(spark.read.text(src))
        parse = timed_write(parsed)
        count = timed_write(
            tumbling_counts(parsed, "event_time", ["user_id"], "1 minute")
        )
        layers.add("scan_s", scan)
        layers.add("operators.etl.parse_s", parse - scan)
        layers.add("operators.windowing.count_s", count - parse)

        t0 = time.perf_counter()
        result = demo2_pipeline(spark, src, *fresh_dirs(), finalize=False)
        started = time.perf_counter() - t0
        result.wait_until_finish()
        drain = time.perf_counter() - t0
        layers.add("streaming.drain_s", drain)
        if plans:
            layers.add("plans.start_s", started)
            layers.add("plans.wait_s", drain - started)

        t0 = time.perf_counter()
        demo2_pipeline(spark, src, *fresh_dirs(), finalize=True)
        layers.add("streaming.finalize_s", time.perf_counter() - t0 - drain)


def _attempt(wl, spark, demo2_pipeline) -> Op:
    """One op; an exception fails the op and the loop goes on."""
    t0 = time.perf_counter()
    try:
        return wl.op(spark, demo2_pipeline)
    except Exception as exc:  # noqa: BLE001 - recorded as a failed op
        traceback.print_exc()
        return Op(time.perf_counter() - t0, 0, repr(exc), [], 0.0, "", 0)


def _traced_op(wl, spark, demo2_pipeline, layers, recorder, jobs) -> Op:
    spark.streams.addListener(recorder)
    try:
        jobs_before = jobs.highest()
        op = _attempt(wl, spark, demo2_pipeline)
        # Failed ops count here too, so a wrong drop shows in drop_ratio.
        layers.add("late", op.late)
        layers.add("state.rows_dropped_by_watermark", _dropped(op.queries))
        if op.error is None:
            layers.add("jobs", jobs.highest(op.queries) - jobs_before)
            layers.add_all(tracing.progress_layers(recorder.take(op.queries)))
            files, nbytes = tracing.sink_stats(op.sink)
            layers.add("sink.files", files)
            layers.add("sink.bytes", nbytes)
            if not wl.finalize:
                layers.add("plans.start_s", op.start_s)
                layers.add("plans.wait_s", op.seconds - op.start_s)
        return op
    finally:
        spark.streams.removeListener(recorder)


def _per_layer(layers, peak_rss: float, traced: list[float], untraced: list[float]):
    med = layers.medians()
    late = sum(layers.samples.get("late", []))
    dropped = sum(layers.samples.get("state.rows_dropped_by_watermark", []))
    units = {
        "session.get_spark_s": "s",
        "scan_s": "s",
        "operators.etl.parse_s": "s",
        "operators.windowing.count_s": "s",
        "streaming.drain_s": "s",
        "streaming.finalize_s": "s",
        "plans.start_s": "s",
        "plans.wait_s": "s",
        **{name: "ms" for name in tracing.DURATIONS.values()},
        "stream.batches": "count",
        "state.rows_total": "count",
        "state.memory_bytes": "B",
        "state.commit_ms": "ms",
        "state.rows_dropped_by_watermark": "count",
        "sink.files": "count",
        "sink.bytes": "B",
        "jobs": "count",
        "scaling.local1_events_per_s": "1/s",
    }
    # A metric with no samples (its traced ops failed) is left out; the
    # result then reads correct=false.
    metrics = {name: (med[name], unit) for name, unit in units.items() if name in med}
    # Dropped rows over too-late events generated; a workload with no late
    # events reads 1 when nothing was dropped.
    metrics["state.drop_ratio"] = (
        dropped / late if late else float(dropped == 0),
        "ratio",
    )
    metrics["peak_rss_mib"] = (peak_rss, "MiB")
    metrics["trace.overhead_s"] = (
        statistics.median(traced) - statistics.median(untraced),
        "s",
    )
    return metrics


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    import bench  # the repo's host probes

    cpus = len(os.sched_getaffinity(0))
    jiffies0 = bench._cpu_jiffies()
    load0 = os.getloadavg()
    cal0 = bench._cal_probe(inner_runs=1)
    probe_s = time.perf_counter() - _T_START

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")

    t0 = time.perf_counter()
    spark = _start_spark(cpus)
    get_spark_s = time.perf_counter() - t0
    from tutorial_apache_beam_spark.streaming.demos import demo2_pipeline

    ops: list[Op] = []
    timed: list[Op] = []
    traced_flags: list[bool] = []
    layers = tracing.Layers()
    try:
        wl = WORKLOADS[workload](seed)
        for _ in range(WARM_OPS[workload]):
            spark.catalog.clearCache()
            ops.append(_attempt(wl, spark, demo2_pipeline))
        setup_s = time.perf_counter() - _T_START - probe_s

        if trace:
            layers.add("session.get_spark_s", get_spark_s)
            recorder = tracing.ProgressRecorder()
            jobs = tracing.JobCounter(spark)
        peak_rss = hostinfo.tree_peak_rss_mib(os.getpid())
        deadline = time.perf_counter() + seconds
        # Traced runs alternate untraced and traced ops, so they need two.
        while len(timed) < 1 + trace or time.perf_counter() < deadline:
            spark.catalog.clearCache()
            traced = trace and len(timed) % 2 == 1
            if traced:
                op = _traced_op(wl, spark, demo2_pipeline, layers, recorder, jobs)
            else:
                op = _attempt(wl, spark, demo2_pipeline)
            timed.append(op)
            traced_flags.append(traced)
            peak_rss = max(peak_rss, hostinfo.tree_peak_rss_mib(os.getpid()))
        ops.extend(timed)

        if trace:
            try:
                _probe_layers(spark, wl.probe_input(), layers, plans=wl.finalize)
            except Exception as exc:  # noqa: BLE001 - recorded as a failed op
                traceback.print_exc()
                ops.append(Op(0.0, 0, repr(exc), [], 0.0, "", 0))
            # A new local[1] context in the same, already warm JVM.
            spark.stop()
            spark = _start_spark(1)
            spark.catalog.clearCache()
            one = _attempt(wl, spark, demo2_pipeline)
            ops.append(one)
            if one.error is None:
                layers.add("scaling.local1_events_per_s", one.events / one.seconds)
    finally:
        _stop_spark(spark)
        leftover = hostinfo.descendants(os.getpid())
        shutil.rmtree(WORK, ignore_errors=True)

    times = [op.seconds for op in timed]
    failed = [op.error for op in ops if op.error is not None]
    for error in failed:
        print(f"failed op: {error}", file=sys.stderr)
    info = {
        "workload": workload,
        "seed": seed,
        "nproc": cpus,
        "host": bench._host_fingerprint(),
        "steal_pct": bench._steal_pct(jiffies0),
        "loadavg_start": load0,
        "loadavg_end": os.getloadavg(),
        "cal_probe_start_s": cal0,
        "cal_probe_end_s": bench._cal_probe(inner_runs=1),
        "warm_op_s": [op.seconds for op in ops[: WARM_OPS[workload]]],
        "op_s": times,
        "leftover_processes": leftover,
    }
    if trace:
        metrics = _per_layer(
            layers,
            peak_rss,
            traced=[t for t, f in zip(times, traced_flags) if f],
            untraced=[t for t, f in zip(times, traced_flags) if not f],
        )
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "events_per_s": (
                statistics.median(op.events / op.seconds for op in timed),
                "1/s",
            ),
            "op_p50_s": (statistics.median(times), "s"),
            "op_p75_s": (_p75(times), "s"),
        }
    return {
        "info": info,
        "result": {
            "correct": not failed and not leftover,
            "attempted": len(ops),
            "failed": len(failed),
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        },
    }


def _p75(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=4)[2]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "tutorial_apache_beam_spark")):
        print(f"no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"run_info": out["info"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
