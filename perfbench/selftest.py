"""Shows that the benchmark's output check catches wrong answers.

Run from the root of a checkout:

    python3 perfbench/selftest.py

First without Spark: a sink written from the expected counts passes, and a
changed count, a missing row or a duplicated row each fail. Then through
the real workload code on a small input: correct expectations pass, and a
wrong expected value makes the op fail. Exits 0 when every case holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import demo2data as d
import run


def _write_sink(path: str, keys: np.ndarray, counts: np.ndarray) -> None:
    os.makedirs(path, exist_ok=True)
    secs = keys >> 32
    tbl = pa.table(
        {
            "processing_time": pa.array(secs * 10**6, pa.timestamp("us")),
            "window_start": pa.array(secs * 10**6, pa.timestamp("us")),
            "user_id": pa.array(keys & 0xFFFFFFFF, pa.int32()),
            "count": pa.array(counts, pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"))


def check(name: str, ok: bool) -> bool:
    print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return ok


def without_spark(tmp: str) -> bool:
    rng = np.random.default_rng(7)
    b = d.make_batch(rng, 5000, 1_700_000_040, 300, d.Traffic())
    exp = d.Expected()
    exp.add(b)
    keys, counts = exp.counts()
    sink = os.path.join(tmp, "sink")
    _write_sink(sink, keys, counts)
    got = d.read_sink(sink)

    wrong = counts.copy()
    wrong[len(wrong) // 2] += 1
    dup = os.path.join(tmp, "dup")
    _write_sink(dup, np.r_[keys, keys[:1]], np.r_[counts, counts[:1]])

    watermark = 1_700_002_900
    late = d.make_batch(
        rng, 5000, 1_700_003_000, 60, d.Traffic(late=0.01), watermark=watermark
    )
    msgs = []
    for line in late.lines:
        try:
            msgs.append(json.loads(line))
        except json.JSONDecodeError:
            pass
    closed = [
        (m["event_time"] // 60, m["user_id"])
        for m in msgs
        if "event_time" in m and m["event_time"] // 60 * 60 + 60 <= watermark - 480
    ]
    return all(
        [
            check("sink equal to expected passes", d.mismatch(got, (keys, counts)) is None),
            check("changed expected count fails", d.mismatch(got, (keys, wrong)) is not None),
            check("missing expected row fails", d.mismatch(got, (keys[1:], counts[1:])) is not None),
            check("duplicated sink row fails", d.mismatch(d.read_sink(dup), (keys, counts)) is not None),
            check(
                "late events sit in closed windows, one per (window, user)",
                late.late == 50 and len(closed) == 50 and len(set(closed)) == 50,
            ),
            check(
                "late events excluded from expected",
                len(late.times) == 5000 - late.late - late.malformed,
            ),
        ]
    )


def with_spark() -> bool:
    from tutorial_apache_beam_spark.streaming.demos import demo2_pipeline

    run.BACKLOG_EVENTS = 20_000
    shutil.rmtree(run.WORK, ignore_errors=True)
    os.makedirs(run.WORK)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run.WORK, "spark-local")
    spark = run._start_spark(2)
    try:
        backlog = run.Backlog(seed=3)
        good = backlog.op(spark, demo2_pipeline)
        keys, counts = backlog.want
        counts = counts.copy()
        counts[0] += 1
        backlog.want = (keys, counts)
        bad = backlog.op(spark, demo2_pipeline)

        micro = run.Microbatch(seed=3)
        first = [micro.op(spark, demo2_pipeline) for _ in range(3)]
        # One extra expected event in an already-closed window.
        key = micro.expected.counts()[0][:1]
        extra = d.Batch([], key >> 32, key & 0xFFFFFFFF, 0, 0)
        micro.expected.add(extra)
        wrong = micro.op(spark, demo2_pipeline)
        return all(
            [
                check("backlog op passes", good.error is None),
                check("backlog op with a wrong expected count fails", bad.error is not None),
                check("micro-batch ops pass", all(op.error is None for op in first)),
                check("micro-batch ops had late rows to drop", first[-1].late > 0),
                check("micro-batch op with a wrong expected count fails", wrong.error is not None),
            ]
        )
    finally:
        run._stop_spark(spark)
        shutil.rmtree(run.WORK, ignore_errors=True)


def main() -> int:
    sys.path.insert(0, run.ROOT)
    run.WORK = os.path.join(run.ROOT, ".perfbench_selftest")
    shutil.rmtree(run.WORK, ignore_errors=True)
    os.makedirs(run.WORK)
    try:
        ok = without_spark(os.path.join(run.WORK, "plain"))
    finally:
        shutil.rmtree(run.WORK, ignore_errors=True)
    ok = with_spark() and ok
    print("selftest passed" if ok else "selftest FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
