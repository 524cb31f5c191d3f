"""Run the benchmark once per seed and summarise each metric.

    python3 perfbench/repeat.py --workload pit_short --seeds 1-10 \
        --seconds 10 [--trace 1]

Prints, per metric, the median, the quartiles and the spread (distance
between the first and third quartile as a share of the median), then one
JSON line with every run's result. Used to check that the benchmark is
steady and to compare two commits with identical settings.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                 else (med, med, med))
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    runs = []
    for seed in _seeds(args.seeds):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", args.seconds,
             "--trace", args.trace], capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        runs.append({"seed": seed, **res})
        print(f"seed {seed}: correct={res['correct']} attempted="
              f"{res['attempted']} failed={res['failed']}", flush=True)
    names = sorted({k for r in runs for k in r["metrics"]})
    for name in names:
        s = summarise([r["metrics"][name]["value"] for r in runs])
        print(f"{name:<36} median {s['median']:.6g}  q1 {s['q1']:.6g}  "
              f"q3 {s['q3']:.6g}  spread {s['spread']:.3f}")
    print(json.dumps({"workload": args.workload, "runs": runs}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
