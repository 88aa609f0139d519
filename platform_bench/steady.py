"""Steadiness mode: run one workload in fresh processes on distinct seeds
and print the median, quartiles and spread of every end-to-end metric.

  python3 platform_bench/steady.py --workload ingest --runs 10 --first-seed 100

Spread is (Q3 - Q1) / median, with quartiles from
``statistics.quantiles(values, n=4)``. Each run's result line is also
written to platform_bench/out/steady-<workload>-<first seed>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=7)
    args = ap.parse_args()
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    log = os.path.join(HERE, "out", f"steady-{args.workload}-{args.first_seed}.jsonl")
    results = []
    with open(log, "w") as f:
        for seed in range(args.first_seed, args.first_seed + args.runs):
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True, check=True)
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            results.append(result)
            f.write(json.dumps({"seed": seed, **result}) + "\n")
            print(f"seed {seed}: correct={result['correct']} failed={result['failed']}/"
                  f"{result['attempted']} " + " ".join(
                      f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  flush=True)
    print(f"{'metric':16} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8}")
    for name in results[0]["metrics"]:
        med, q1, q3, s = spread([r["metrics"][name]["value"] for r in results])
        print(f"{name:16} {med:12.4f} {q1:12.4f} {q3:12.4f} {s:8.2%}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"correct in every run: {all(r['correct'] for r in results)}; "
          f"failed shares seen: {sorted(shares)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
