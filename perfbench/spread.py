#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Feed it the result lines of several runs of one workload (one JSON object
per line, as ``run.py`` prints last; other lines are skipped):

    for s in 1 2 3 4 5 6 7 8 9 10; do
        python3 perfbench/run.py --workload catalog --seed $s --seconds 15 --trace 0 | tail -1
    done > runs.jsonl
    python3 perfbench/spread.py runs.jsonl

For each metric it prints the median, the quartiles and the spread
(third minus first quartile, as a share of the median), the figure a
metric's ``bound`` in BENCHMARK.json is checked against.
"""

from __future__ import annotations

import json
import statistics
import sys


def spreads(lines) -> dict[str, dict]:
    values: dict[str, list[float]] = {}
    for line in lines:
        line = line.strip()
        if not line.startswith("{"):
            continue
        for k, v in json.loads(line)["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    out = {}
    for k, v in values.items():
        if len(v) < 2:
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        out[k] = {"n": len(v), "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}
    return out


def main(argv: list[str]) -> int:
    lines = []
    for path in argv or ["-"]:
        if path == "-":
            lines += sys.stdin.readlines()
        else:
            with open(path) as f:
                lines += f.readlines()
    for k, s in spreads(lines).items():
        print(f"{k:20s} n={s['n']:2d} median={s['median']:.4g} q1={s['q1']:.4g} q3={s['q3']:.4g} spread={s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
