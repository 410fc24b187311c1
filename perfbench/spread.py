"""Spread of benchmark runs: median and interquartile range per metric.

    python3 perfbench/spread.py OUT_FILE...
    python3 perfbench/spread.py --overhead TRACED_OUT UNTRACED_OUT

Each OUT_FILE is the standard output of one ``run.py`` run; its last line
is the JSON summary. Runs are grouped by the workload named in their first
report line. For every metric the script prints the median, and the
distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median.

``--overhead`` takes a traced and an untraced run of the same workload and
seed and prints, for every end-to-end report line (``# e2e``), the traced
value minus the untraced one: the tracing overhead as a user would see it.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> tuple[str, dict]:
    with open(path) as f:
        lines = f.read().splitlines()
    workload = "?"
    for line in lines:
        if line.startswith("# workload="):
            workload = line.split()[1].split("=", 1)[1]
            break
    return workload, json.loads(lines[-1])


def e2e_lines(path: str) -> dict[str, float]:
    out = {}
    with open(path) as f:
        for line in f:
            if line.startswith("# e2e "):
                name, value = line[len("# e2e "):].split(" = ")
                out[name] = float(value.split()[0])
    return out


def overhead(traced: str, untraced: str) -> int:
    t, u = e2e_lines(traced), e2e_lines(untraced)
    for name in sorted(set(t) & set(u)):
        print(f"  {name:34s} traced-untraced={t[name] - u[name]:<12.6g} "
              f"untraced={u[name]:.6g}")
    return 0


def main(paths: list[str]) -> int:
    if paths[:1] == ["--overhead"]:
        return overhead(*paths[1:3])
    groups: dict[str, list[dict]] = {}
    for path in paths:
        workload, summary = load(path)
        groups.setdefault(workload, []).append(summary)
    for workload, runs in sorted(groups.items()):
        bad = sum(1 for r in runs if not r["correct"])
        print(f"{workload}: {len(runs)} runs, {bad} incorrect")
        names = sorted({k for r in runs for k in r["metrics"]})
        for name in names:
            values = [r["metrics"][name]["value"] for r in runs
                      if name in r["metrics"]]
            med = statistics.median(values)
            if len(values) >= 2:
                q1, _, q3 = statistics.quantiles(values, n=4)
                spread = (q3 - q1) / med if med else float("nan")
            else:
                spread = float("nan")
            print(f"  {name:34s} median={med:<12.6g} iqr/median={spread:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
