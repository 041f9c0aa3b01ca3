"""Per-layer measurement for the traced run (`--trace 1`).

Everything here is taken from outside the engine: a StreamingQueryListener
for per-batch progress reports, Spark's job ids, the sink directory, and
timers around calls into the engine's public functions. The untraced run
registers none of it.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# StreamingQueryProgress.durationMs key -> per-layer metric, summed per op.
DURATIONS = {
    "triggerExecution": "stream.trigger_ms",
    "addBatch": "stream.add_batch_ms",
    "queryPlanning": "stream.query_planning_ms",
    "latestOffset": "stream.latest_offset_ms",
    "getBatch": "stream.get_batch_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
}


class ProgressRecorder(StreamingQueryListener):
    """Collects every progress report, keyed by query run id."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._by_run: dict[str, list] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self._by_run.setdefault(str(event.progress.runId), []).append(
                event.progress
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self, queries, timeout_s: float = 30.0) -> list:
        """The progress reports of `queries`, once the listener bus has
        delivered as many as each query holds itself."""
        want = {str(q.runId): len(q.recentProgress) for q in queries}
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                have = {r: len(self._by_run.get(r, [])) for r in want}
                if all(have[r] >= n for r, n in want.items()):
                    return [p for r in want for p in self._by_run.pop(r, [])]
            if time.monotonic() > deadline:
                raise TimeoutError(f"progress reports {have} of {want}")
            time.sleep(0.01)


def progress_layers(progress: list) -> dict[str, float]:
    """Per-op layer values from the op's batch progress reports."""
    out = {name: 0.0 for name in DURATIONS.values()}
    for p in progress:
        for key, name in DURATIONS.items():
            out[name] += p.durationMs.get(key, 0)
    ops = [s for p in progress for s in p.stateOperators]
    last = progress[-1].stateOperators if progress else []
    out["stream.batches"] = float(len(progress))
    out["state.rows_total"] = float(sum(s.numRowsTotal for s in last))
    out["state.memory_bytes"] = float(sum(s.memoryUsedBytes for s in last))
    out["state.commit_ms"] = float(sum(s.commitTimeMs for s in ops))
    return out


class JobCounter:
    """Spark's highest job id so far. Job ids are sequential across the
    context, so the difference over an op is the number of jobs it ran.
    Stream jobs carry their query's run id as job group, so those groups
    are asked for as well as the jobs with no group."""

    def __init__(self, spark) -> None:
        self._tracker = spark.sparkContext.statusTracker()
        self._groups: set[str | None] = {None}

    def highest(self, queries=()) -> int:
        self._groups.update(str(q.runId) for q in queries)
        return max(
            (j for g in self._groups for j in self._tracker.getJobIdsForGroup(g)),
            default=-1,
        )


def sink_stats(sink_dir: str) -> tuple[int, int]:
    """(parquet files, bytes) in a sink directory."""
    files = [f for f in os.listdir(sink_dir) if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(os.path.join(sink_dir, f)) for f in files)


class Layers:
    """Per-layer samples; each metric reports the median of its samples."""

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = {}

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def add_all(self, values: dict[str, float]) -> None:
        for name, value in values.items():
            self.add(name, value)

    def medians(self) -> dict[str, float]:
        return {n: statistics.median(v) for n, v in self.samples.items()}
