"""Tracing overhead: run one workload untraced, then traced, with the same
seed, and print each end-to-end metric of both runs and their difference
(traced minus untraced).

    python3 perfbench/overhead.py --workload headline_queries --seed 1 --seconds 5
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    detail, result = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
    return detail, result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    _, plain = _run(args.workload, args.seed, args.seconds, 0)
    detail, _ = _run(args.workload, args.seed, args.seconds, 1)
    traced = detail["details"]["traced_end_to_end"]
    print(json.dumps({
        k: {"untraced": v["value"], "traced": traced[k], "overhead": traced[k] - v["value"]}
        for k, v in plain["metrics"].items()
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
