"""Tracing overhead of one workload and seed: runs the benchmark untraced and
traced, then prints each end-to-end metric of both runs and their
difference (traced minus untraced). Run from the checkout root:

    python3 perfbench/overhead.py --workload pipeline_full --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _metrics(args, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    args = p.parse_args()
    plain, traced = _metrics(args, 0), _metrics(args, 1)
    rows = {}
    for name, m in plain.items():
        t = traced[f"traced.{name}"]["value"]
        rows[name] = {"untraced": m["value"], "traced": t, "overhead": t - m["value"],
                      "unit": m["unit"]}
    print(json.dumps(rows, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
