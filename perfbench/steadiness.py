#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steadiness.py --workload sql_analytics --runs 10 --first-seed 1

Runs perfbench/run.py once per seed (trace off) and prints, for every
end-to-end metric, the median of the runs and the spread: the distance
between the first and third quartiles (statistics.quantiles, n=4) as a share
of the median. Each run's JSON line is appended to
.bench_build/perfbench/steadiness-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench")


def spread(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, f"steadiness-{a.workload}.jsonl")
    results = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited with {r.returncode}")
        out = json.loads(r.stdout.strip().splitlines()[-1])
        out["seed"], out["wall_s"] = seed, time.time() - t
        results.append(out)
        with open(log, "a") as f:
            f.write(json.dumps(out) + "\n")
    ok = all(r["correct"] and r["failed"] == 0 for r in results)
    walls = [r["wall_s"] for r in results]
    print(f"{a.workload}: {len(results)} runs, seeds {a.first_seed}-{seed}, "
          f"all correct: {ok}, run wall median {statistics.median(walls):.1f} s")
    for name in results[0]["metrics"]:
        med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in results])
        print(f"  {name:<14} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  spread {sp:.3f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
