"""Self-test of the benchmark's output check, without Spark: the pinned
values pass it, and corrupting any one of them, or reporting an internal
inconsistency, fails it.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import copy
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run import check, load_expected  # noqa: E402


def corrupt(value):
    if isinstance(value, int):
        return value + 1
    if isinstance(value, str):
        return value[:-1] + ("1" if value[-1:] != "1" else "2")
    if isinstance(value, dict):
        key = sorted(value)[0]
        return {**value, key: corrupt(value[key])}
    raise TypeError(f"cannot corrupt {value!r}")


def main() -> int:
    expected = load_expected()
    errors, cases = [], 0
    for workload, seeds in expected.items():
        for seed, pinned in seeds.items():
            cases += 1
            if check(workload, int(seed), dict(pinned), expected):
                errors.append(f"{workload} seed {seed}: pinned values fail")
            for key in pinned:
                bad = copy.deepcopy(expected)
                bad[workload][seed][key] = corrupt(pinned[key])
                cases += 1
                if not check(workload, int(seed), dict(pinned), bad):
                    errors.append(f"{workload} seed {seed}: corrupted {key} passes")
        cases += 1
        if not check(workload, -1, {"inconsistent": ["counts differ"]}, expected):
            errors.append(f"{workload}: an inconsistency passes")
    for e in errors:
        print(f"FAIL {e}")
    print(f"{cases - len(errors)}/{cases} check cases behave")
    return 1 if errors or not cases else 0


if __name__ == "__main__":
    sys.exit(main())
