"""Spread of end-to-end metrics over separate runs.

    python3 perfbench/spread.py OUT1 OUT2 ...

Each OUT is the standard output of one `run.py` invocation. Runs are
grouped by workload (from their run_info line). For each metric this
prints the median and the distance between the first and third quartile
as a share of the median (`statistics.quantiles(values, n=4)`), next to
the bound in BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths: list[str]) -> dict[str, list[dict]]:
    by_workload: dict[str, list[dict]] = {}
    for path in paths:
        with open(path) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.startswith("{")]
        if len(lines) < 2:
            print(f"{path}: no result", file=sys.stderr)
            continue
        info = json.loads(lines[-2])["run_info"]
        result = json.loads(lines[-1])
        by_workload.setdefault(info["workload"], []).append(result)
    return by_workload


def main(paths: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m.get("bound") for m in json.load(fh)["end_to_end"]}
    for workload, results in sorted(load(paths).items()):
        bad = [r for r in results if not r["correct"] or r["failed"]]
        print(f"{workload}: {len(results)} runs, {len(bad)} incorrect")
        names = results[0]["metrics"]
        for name in names:
            values = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(values)
            line = f"  {name:28s} median {med:12.4f}"
            if len(values) >= 2:
                q1, _, q3 = statistics.quantiles(values, n=4)
                line += f"  iqr/median {(q3 - q1) / med:7.4f}"
            if bounds.get(name) is not None:
                line += f"  bound {bounds[name]}"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
