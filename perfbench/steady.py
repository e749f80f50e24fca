"""Steadiness check: run one workload k times, each in a fresh process with
its own seed, and print per end-to-end metric the median, the quartiles, the
spread (interquartile distance / median) and the bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload sensor_fleet --runs 10 --first-seed 1

A spread below a third of the bound leaves room for two sets of runs of the
same code to agree within the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    results, walls = [], []
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        walls.append(time.perf_counter() - t0)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        results.append(res)
        steal = next((ln.split(":")[1].strip() for ln in lines if ln.startswith("# cpu steal")), "?")
        for ln in lines:
            if ln.startswith(("# passes", "# timed pass", "# peak rss", "# setup")):
                print(f"  {ln}")
        vals = " ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items())
        print(f"seed {seed}: wall {walls[-1]:.1f}s steal {steal} correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} {vals}", flush=True)

    print(f"\n{args.workload}: {args.runs} runs, wall median {statistics.median(walls):.1f}s, "
          f"max {max(walls):.1f}s")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"failed share per run: {sorted(shares)}")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
    for name, bound in bounds.items():
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        flag = "" if name == "setup_s" or spread < bound / 3 else "  <- above bound/3"
        print(f"{name:<14}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}{bound:>8.2f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
