#!/usr/bin/env python3
"""Steadiness check for the CDC benchmark.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--trace 0|1] --out FILE [FILE2 ...]
    python3 perfbench/steady.py --compare FIRST SECOND

The first form runs perfbench/run.py once per seed, workload and output
file (from the root of a checkout) and writes to each file its set of
results plus, per workload and metric, the median and the quartile spread
(Q3 - Q1) / median, with quartiles as Python's statistics.quantiles(values,
n=4) gives them. It prints each spread against the metric's bound in
BENCHMARK.json. With several output files the sets are interleaved: each
seed runs once for every set before the next seed starts, and the order of
the sets alternates from seed to seed, so that a change in the machine's
speed falls on every set alike.

The second form compares two such files: for every end-to-end metric the
shift of the second median against the first, as a share of the first
(positive = worse), and whether it stays within the metric's bound in
either direction.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))


def spec():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def summarise(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else None,
            "values": values}


def run(args):
    b = spec()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in b["workloads"]]
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    outs = [{"seconds": b["run_seconds"], "trace": args.trace, "runs": [], "summary": {}} for _ in args.out]
    for w in workloads:
        for i, s in enumerate(seeds(args.seeds)):
            order = list(range(len(outs)))
            for j in (order[::-1] if i % 2 else order):
                t0 = time.time()
                p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                    "--seed", str(s), "--seconds", str(b["run_seconds"]),
                                    "--trace", str(args.trace)], capture_output=True, text=True)
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or len(lines) < 2:
                    print(f"{w} seed {s}: FAILED\n{p.stderr[-2000:]}", file=sys.stderr)
                    sys.exit(1)
                rec, res = json.loads(lines[-2])["run_record"], json.loads(lines[-1])
                outs[j]["runs"].append({"workload": w, "seed": s, "result": res, "record": rec})
                print(f"{w} seed {s} set {j + 1}: correct={res['correct']} "
                      f"failed={res['failed']}/{res['attempted']} steal={rec['steal_share']:.3f} "
                      f"wall={time.time() - t0:.1f}s", flush=True)
        for j, out in enumerate(outs):
            rows = [r for r in out["runs"] if r["workload"] == w]
            names = rows[0]["result"]["metrics"].keys()
            out["summary"][w] = {n: summarise([r["result"]["metrics"][n]["value"] for r in rows])
                                 for n in names}
            for n, sm in out["summary"][w].items():
                bound = bounds.get(n)
                flag = "" if bound is None or sm["spread"] is None else (
                    "ok" if sm["spread"] < bound / 3 else ("WITHIN BOUND" if sm["spread"] <= bound else "OVER BOUND"))
                spread = "n/a" if sm["spread"] is None else f"{sm['spread']:.4f}"
                print(f"  set {j + 1} {w:20s} {n:24s} median={sm['median']:.6g} spread={spread} "
                      f"bound={bound} {flag}")
            with open(args.out[j], "w") as fh:
                json.dump(out, fh, indent=1)


def compare(first, second):
    b = spec()
    better = {m["name"]: m["better"] for m in b["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    with open(first) as fh:
        a = json.load(fh)["summary"]
    with open(second) as fh:
        c = json.load(fh)["summary"]
    for w in a:
        for n in a[w]:
            if n not in better or w not in c:
                continue
            m1, m2 = a[w][n]["median"], c[w][n]["median"]
            worse = (m2 - m1) / m1 if better[n] == "lower" else (m1 - m2) / m1
            flag = "ok" if abs(worse) <= bounds[n] else ("WORSE" if worse > 0 else "BETTER") + " THAN BOUND"
            print(f"{w:20s} {n:24s} {m1:.6g} -> {m2:.6g} worse-by={worse:+.4f} bound={bounds[n]} {flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", nargs="+")
    ap.add_argument("--compare", nargs=2)
    a = ap.parse_args()
    if a.compare:
        compare(*a.compare)
    else:
        if not a.out:
            ap.error("--out is required")
        run(a)


if __name__ == "__main__":
    main()
