"""Process-tree probes: the benchmark's live descendants and their peak
resident memory. The host-condition probes (calibration kernel, CPU steal,
CPU fingerprint) are bench.py's, imported by run.py."""

from __future__ import annotations

import os


def descendants(pid: int) -> list[int]:
    """Live descendant pids of `pid` (children first)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_peak_rss_mib(pid: int) -> float:
    """Sum of peak resident memory (VmHWM) over `pid` and its live
    descendants: this Python process, its JVM and the Python workers."""
    kib = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return kib / 1024.0
