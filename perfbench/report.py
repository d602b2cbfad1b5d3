"""Summarize recorded untraced runs: per workload and end-to-end metric, the
run count, the median, the quartiles and the spread (Q3 - Q1) / median,
which the bound of each metric in BENCHMARK.json must exceed.

    python3 perfbench/report.py [runs.jsonl ...]

Default input: perfbench/results/runs.jsonl.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(paths: list[str]) -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    runs: dict[str, list[dict]] = {}
    failed: dict[str, int] = {}
    for path in paths or [os.path.join(HERE, "results", "runs.jsonl")]:
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                if r.get("trace"):
                    continue
                if not r.get("correct"):
                    failed[r["workload"]] = failed.get(r["workload"], 0) + 1
                    continue
                runs.setdefault(r["workload"], []).append(r)
    worst = 0.0
    for workload, rs in sorted(runs.items()):
        seeds = sorted({r["seed"] for r in rs})
        print(f"{workload}: {len(rs)} correct runs, {failed.get(workload, 0)} "
              f"failed, seeds {seeds}")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in rs
                    if name in r["metrics"]]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            if name != "setup_s":
                worst = max(worst, spread / bound)
            print(f"  {name:24s} median {med:12.4f}  q1 {q1:12.4f}  "
                  f"q3 {q3:12.4f}  spread {spread:6.3f}  bound {bound}")
    print(f"largest spread / bound (setup_s excluded): {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
