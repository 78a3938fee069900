"""Summarise repeated benchmark runs: per metric, the median, the
quartiles, and the spread (distance between the quartiles as a share of
the median) next to the metric's bound.

    for s in 1 2 3 4 5 6 7 8 9 10; do
      python3 perfbench/run.py --workload store_crud --seed $s --seconds 12 --trace 0 | tail -1
    done > runs.jsonl
    python3 perfbench/spread.py runs.jsonl
"""

from __future__ import annotations

import fileinput
import json
import statistics

import metrics


def main() -> None:
    values: dict[str, list[float]] = {}
    for line in fileinput.input():
        if line.strip():
            for name, m in json.loads(line)["metrics"].items():
                values.setdefault(name, []).append(m["value"])
    bounds = {n: b for n, _, _, b in metrics.END_TO_END}
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds.get(name)
        flag = "" if bound is None else ("ok" if spread < bound / 3 else "WIDE")
        print(f"{name:32s} n={len(vs):2d} median={med:12.4f} q1={q1:12.4f} "
              f"q3={q3:12.4f} spread={spread:.4f} bound={bound} {flag}")


if __name__ == "__main__":
    main()
