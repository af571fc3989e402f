"""Run one workload on several seeds and print each end-to-end metric's
median and spread (inter-quartile distance over the median).

    python3 perfbench/spread.py --workload stream_uniform --seeds 1 2 3 4 5 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from helpers import spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        run_info = json.loads(lines[-2])
        print(json.dumps({"seed": seed, "correct": result["correct"],
                          "failed": result["failed"], "phases_s": run_info["phases_s"],
                          "metrics": {k: v["value"] for k, v in result["metrics"].items()}}),
              flush=True)
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    if len(args.seeds) >= 2:
        for name, vs in values.items():
            print(f"{name:24s} median {statistics.median(vs):14.6g}  spread {spread(vs):.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
