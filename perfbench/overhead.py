"""Tracing overhead: run one workload untraced, then traced, on the
same seed, and print each end-to-end figure of both runs and their
difference (traced minus untraced).

  python3 perfbench/overhead.py --workload etl --seed 1 [--seconds 20]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def context(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    )
    return json.loads(p.stdout.strip().splitlines()[-2])["context"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    args = p.parse_args()
    plain = context(args.workload, args.seed, args.seconds, 0)["end_to_end"]
    traced = context(args.workload, args.seed, args.seconds, 1)["end_to_end"]
    out = {
        k: {"untraced": plain[k], "traced": traced[k], "overhead": traced[k] - plain[k]}
        for k in plain
    }
    print(json.dumps({"workload": args.workload, "seed": args.seed, "tracing_overhead": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
