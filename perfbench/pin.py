"""Pin expected outputs from recorded runs.

    python3 perfbench/pin.py

Reads perfbench/results/runs.jsonl and adds to perfbench/expected.json the
observed outputs of every (workload, seed) whose correct runs all agree and
that has no pin yet. A pin that disagrees with a run is reported, never
overwritten. Pin only from a commit whose outputs the oracle suite has
verified: a pin fixes the program's current output, right or wrong.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import EXPECTED, RESULTS, load_expected  # noqa: E402


def main() -> int:
    expected = load_expected()
    seen: dict[tuple[str, str], list[dict]] = {}
    with open(os.path.join(RESULTS, "runs.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            if r.get("correct") and r.get("observed"):
                seen.setdefault((r["workload"], str(r["seed"])), []).append(
                    r["observed"])
    status = 0
    for (workload, seed), obs in sorted(seen.items()):
        pins = expected.setdefault(workload, {})
        if any(o != obs[0] for o in obs):
            print(f"{workload} seed {seed}: runs disagree, not pinned")
            status = 1
        elif seed not in pins:
            pins[seed] = obs[0]
            print(f"{workload} seed {seed}: pinned {obs[0]}")
        elif pins[seed] != obs[0]:
            print(f"{workload} seed {seed}: pin {pins[seed]} != run {obs[0]}")
            status = 1
    for workload in expected:
        expected[workload] = dict(sorted(expected[workload].items(),
                                         key=lambda kv: int(kv[0])))
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return status


if __name__ == "__main__":
    sys.exit(main())
