#!/usr/bin/env python3
"""Fixed work per seed: the benchmark's own test.

    python3 perfbench/test_fixed_work.py [--seed N] [--workloads a,b]

Runs each workload twice at a small size with one seed (from the root of a
checkout) and checks that both runs did exactly the same work: ticks, rows
applied, micro-batches (one per tick), commits, files added and removed,
bytes written and OPTIMIZE runs, and the same write and space
amplification. Both runs must also pass every output check. Exits non-zero
on any difference.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("binlog_merge", "dynamo_staged_load", "warehouse_queries")
# small inputs, each workload's own schedule, and enough seconds for the twenty
# samples a median needs
SMALL = ["--seconds", "20", "--scale", "0.25"]
EXACT_METRICS = ("write_amp", "space_amp")


def run_once(workload, seed):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--trace", "0"] + SMALL, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload}: run failed (exit {p.returncode})\n{p.stderr[-2000:]}")
    return json.loads(lines[-2])["run_record"], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    a = ap.parse_args()
    problems = []
    for w in a.workloads.split(","):
        (rec1, res1), (rec2, res2) = run_once(w, a.seed), run_once(w, a.seed)
        for i, (rec, res) in enumerate(((rec1, res1), (rec2, res2)), 1):
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} run {i}: {res['failed']}/{res['attempted']} operations failed: "
                                f"{rec['errors'][:3]}")
        work1, work2 = rec1["work"], rec2["work"]
        if work1 != work2:
            problems.append(f"{w}: work differs between runs: {work1} vs {work2}")
        if work1.get("batches", work1.get("ticks")) != work1.get("ticks"):
            problems.append(f"{w}: {work1.get('batches')} micro-batches for {work1.get('ticks')} ticks")
        for m in EXACT_METRICS:
            v1, v2 = res1["metrics"][m]["value"], res2["metrics"][m]["value"]
            if v1 != v2:
                problems.append(f"{w}: {m} differs between runs: {v1} vs {v2}")
        print(f"{w}: work {work1}; write_amp {res1['metrics']['write_amp']['value']:.6f}, "
              f"space_amp {res1['metrics']['space_amp']['value']:.6f}", flush=True)
    if problems:
        print("FAIL\n  " + "\n  ".join(problems))
        sys.exit(1)
    print("OK: identical work for every workload")


if __name__ == "__main__":
    main()
