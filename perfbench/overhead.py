"""Tracing overhead: run one workload untraced and traced with the same
seed and report traced − untraced for every end-to-end metric.

    python3 perfbench/overhead.py --workload ingest --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def e2e_lines(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True).stdout
    values = {}
    for line in out.splitlines():
        parts = line.split()
        if parts[:1] == ["e2e"] and len(parts) == 4:
            values[parts[1]] = (float(parts[2]), parts[3])
    return values


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    args = p.parse_args()
    plain = e2e_lines(args.workload, args.seed, args.seconds, 0)
    traced = e2e_lines(args.workload, args.seed, args.seconds, 1)
    for name, (value, unit) in plain.items():
        if name in traced:
            t = traced[name][0]
            print(f"overhead {name} untraced {value:.6g} traced {t:.6g} "
                  f"diff {t - value:+.6g} {unit} ({(t - value) / value:+.1%})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
