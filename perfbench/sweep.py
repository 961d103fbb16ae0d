#!/usr/bin/env python3
"""Run paired benchmark sweeps of two checkouts for compare.py.

    python3 perfbench/sweep.py --parent ../parent --change . \\
        --out RUNS --workload ma_stream --pairs 10 [--first-seed 1]

Pair i runs both checkouts on seed first-seed + i, alternating which
side goes first. Results append to RUNS/parent/<workload>.jsonl and
RUNS/change/<workload>.jsonl. With only --change, it runs that checkout
alone (RUNS/change), e.g. to measure run-to-run spread.
"""
import argparse
import json
import os
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{checkout}: run failed on seed {seed}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent")
    ap.add_argument("--change", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        seconds = args.seconds or json.load(f)["run_seconds"]
    sides = [("change", args.change)] + ([("parent", args.parent)] if args.parent else [])
    for i in range(args.pairs):
        order = sides if i % 2 == 0 else sides[::-1]
        for name, checkout in order:
            r = run(checkout, args.workload, args.first_seed + i, seconds)
            os.makedirs(os.path.join(args.out, name), exist_ok=True)
            with open(os.path.join(args.out, name, args.workload + ".jsonl"), "a") as f:
                f.write(json.dumps(dict(r, seed=args.first_seed + i)) + "\n")
            print(name, args.first_seed + i, json.dumps(r["metrics"]), flush=True)


if __name__ == "__main__":
    main()
