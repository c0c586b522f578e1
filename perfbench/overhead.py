"""Tracing overhead: one untraced and one traced run of the same workload and
seed, and the difference of every end-to-end metric between them.

    python3 perfbench/overhead.py --workload feed_cycle --seed 1 --seconds 12

Both runs use the same inputs; their end-to-end metrics differ by the cost of
tracing (setting job groups, reading the status store, walking the sink)
plus run-to-run noise, so compare several seeds before reading much into
one difference.
"""

from __future__ import annotations

import argparse
import sys

import run


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=run.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    a = p.parse_args()
    e2e = {}
    for trace in (0, 1):
        result = run.run(a.workload, a.seed, a.seconds, trace)
        if result is None:
            return 1
        e2e[trace] = run.end_to_end(result)
    for name, unit in run.UNITS.items():
        off, on = e2e[0].get(name, 0.0), e2e[1].get(name, 0.0)
        share = (on - off) / off if off else 0.0
        print(f"{name}: untraced {off:.4f} {unit}, traced {on:.4f} {unit}, "
              f"overhead {on - off:+.4f} {unit} ({share:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
