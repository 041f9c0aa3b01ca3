"""Seeded Demo2 click-message inputs and the expected windowed counts.

A message is one JSON line `{"event_time": <epoch s>, "user_id": <int>,
"click": 1}`, the reference's InputMessage contract. The generator varies
the traffic dimensions Demo2's behaviour depends on: key skew (Zipf
users), key count, out-of-order share, late share and malformed share.

Expected output is computed here, from the generator's own records, with
NumPy only, so the check does not share code with the engine under test.
A Demo2 sink row is (window_start, user_id, count) for a 1-minute window.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

WINDOW_S = 60
# demo2_pipeline's defaults: 1 minute skew + 1 minute lateness.
WATERMARK_DELAY_S = 120
_KEY_SHIFT = 32  # key = window_start << 32 | user_id


@dataclass(frozen=True)
class Traffic:
    users: int = 5000
    zipf_s: float = 1.1
    out_of_order: float = 0.10  # share shifted back by up to 90 s
    malformed: float = 0.01
    late: float = 0.0  # share placed in a window the watermark has closed


@dataclass
class Batch:
    """One generated file: the lines to land, and its well-formed,
    not-too-late events (the ones that must reach the sink)."""

    lines: list[str]
    times: np.ndarray
    users: np.ndarray
    late: int  # too-late events generated
    malformed: int


def _zipf_users(rng: np.random.Generator, n: int, t: Traffic) -> np.ndarray:
    ranks = np.arange(1, t.users + 1, dtype=np.float64)
    p = ranks ** -t.zipf_s
    p /= p.sum()
    ids = 1000 + rng.permutation(t.users)
    return ids[rng.choice(t.users, size=n, p=p)]


def _malformed_line(rng: np.random.Generator, t: int, user: int) -> str:
    kind = rng.integers(3)
    if kind == 0:  # truncated JSON
        return f'{{"event_time": {t}, "user_id": {user}'
    if kind == 1:  # no event time: parses, then is dropped
        return f'{{"user_id": {user}, "click": 1}}'
    return "not json at all"


def make_batch(
    rng: np.random.Generator,
    n: int,
    t_start: int,
    span_s: int,
    traffic: Traffic,
    watermark: int | None = None,
) -> Batch:
    """`n` messages with nominal event times evenly over
    [t_start, t_start + span_s), in arrival order.

    Too-late events (`traffic.late`, only when `watermark` is given) land
    in a window that ends at least 8 minutes before `watermark`, each
    with its own user. Partial aggregation therefore cannot merge two of
    them, so Spark's dropped-row count equals the number generated.
    """
    times = t_start + (np.arange(n) * span_s) // n
    ooo = rng.random(n) < traffic.out_of_order
    times[ooo] -= rng.integers(1, 91, size=int(ooo.sum()))
    users = _zipf_users(rng, n, traffic)
    bad = rng.random(n) < traffic.malformed
    late = np.zeros(n, dtype=bool)
    if watermark is not None and traffic.late > 0:
        n_late = int(round(n * traffic.late))
        idx = rng.choice(np.flatnonzero(~bad), size=n_late, replace=False)
        late[idx] = True
        old_window = (watermark // WINDOW_S) * WINDOW_S - 10 * WINDOW_S
        times[idx] = old_window + rng.integers(0, WINDOW_S, size=n_late)
        users[idx] = 1000 + rng.choice(traffic.users, size=n_late, replace=False)
    lines = [
        _malformed_line(rng, int(t), int(u))
        if b
        else f'{{"event_time": {t}, "user_id": {u}, "click": 1}}'
        for t, u, b in zip(times.tolist(), users.tolist(), bad.tolist())
    ]
    keep = ~bad & ~late
    return Batch(lines, times[keep], users[keep], int(late.sum()), int(bad.sum()))


def write_lines(path: str, lines: list[str]) -> int:
    """Write atomically (temp name, then rename) so a watching stream never
    lists a half-written file. Returns bytes written."""
    data = ("\n".join(lines) + "\n").encode()
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.rename(tmp, path)
    return len(data)


class Expected:
    """Running per-(window_start, user_id) counts of events that must
    reach the sink."""

    def __init__(self) -> None:
        self._keys: list[np.ndarray] = []

    def add(self, batch: Batch) -> None:
        window = (batch.times // WINDOW_S) * WINDOW_S
        self._keys.append((window << _KEY_SHIFT) | batch.users)

    def counts(self, closed_by: int | None = None) -> tuple[np.ndarray, np.ndarray]:
        """(sorted keys, counts); with `closed_by`, only windows whose end
        is at or before that watermark."""
        keys = np.concatenate(self._keys) if self._keys else np.zeros(0, np.int64)
        uniq, cnt = np.unique(keys, return_counts=True)
        if closed_by is not None:
            ends = (uniq >> _KEY_SHIFT) + WINDOW_S
            uniq, cnt = uniq[ends <= closed_by], cnt[ends <= closed_by]
        return uniq, cnt


def read_sink(sink_dir: str) -> tuple[np.ndarray, np.ndarray]:
    """(keys, counts) of a Demo2 parquet sink, sorted by key. Duplicate
    rows are kept, so a window emitted twice shows as a mismatch."""
    if not os.path.isdir(sink_dir) or not any(
        f.endswith(".parquet") for f in os.listdir(sink_dir)
    ):
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    tbl = pq.read_table(sink_dir, columns=["window_start", "user_id", "count"])
    secs = pc.cast(tbl["window_start"], "timestamp[s]").cast("int64").to_numpy()
    users = tbl["user_id"].cast("int64").to_numpy()
    keys = (secs << _KEY_SHIFT) | users
    order = np.argsort(keys, kind="stable")
    return keys[order], tbl["count"].cast("int64").to_numpy()[order]


def mismatch(
    got: tuple[np.ndarray, np.ndarray], want: tuple[np.ndarray, np.ndarray]
) -> str | None:
    """None when the sink equals the expected counts, else a one-line
    description of the first difference."""
    gk, gc = got
    wk, wc = want
    if len(gk) != len(wk):
        return f"{len(gk)} sink rows, expected {len(wk)}"
    diff = np.flatnonzero((gk != wk) | (gc != wc))
    if len(diff):
        i = int(diff[0])
        return (
            f"row {i}: window {int(gk[i] >> _KEY_SHIFT)} user "
            f"{int(gk[i] & 0xFFFFFFFF)} count {int(gc[i])}, expected window "
            f"{int(wk[i] >> _KEY_SHIFT)} user {int(wk[i] & 0xFFFFFFFF)} "
            f"count {int(wc[i])}"
        )
    return None
