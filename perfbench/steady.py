#!/usr/bin/env python3
"""Steadiness check: two sets of benchmark runs per workload.

    python3 perfbench/steady.py [--runs N] [--workloads a,b] [--seconds S]

For every workload in BENCHMARK.json (or --workloads), runs set A on
seeds 1..N and set B on seeds N+1..2N, alternating A and B runs so host
drift lands on both. For each end-to-end metric it prints each set's
median and quartiles, the spread (interquartile distance over median),
and whether the sets agree within the metric's bound from BENCHMARK.json:
  - each set's spread is within the bound,
  - set B's median is not worse than set A's by more than the bound,
  - both sets fail the same share of operations.
It also prints the spread of all 2N runs together. Exit code 0 when every
workload agrees. Each run's result line is kept in
$CARGO_TARGET_DIR/perfbench/steady/<workload>.jsonl (default .bench_build).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def run_once(workload, seed, seconds):
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"steady: {workload} seed {seed} exited {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    metrics = bench["end_to_end"]
    out_dir = os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                           "perfbench", "steady")
    os.makedirs(out_dir, exist_ok=True)
    all_ok = True
    for w in args.workloads.split(","):
        sets = {"A": [], "B": []}
        with open(os.path.join(out_dir, f"{w}.jsonl"), "w") as log:
            for i in range(args.runs):
                for name, seed in (("A", 1 + i), ("B", 1 + args.runs + i)):
                    res = run_once(w, seed, args.seconds)
                    res["set"], res["seed"] = name, seed
                    log.write(json.dumps(res) + "\n")
                    log.flush()
                    sets[name].append(res)
        print(f"== {w}: {args.runs} runs per set")
        share = {k: sum(r["failed"] for r in v) / sum(r["attempted"] for r in v)
                 for k, v in sets.items()}
        ok = share["A"] == share["B"] and all(
            r["correct"] for v in sets.values() for r in v)
        print(f"   failed share A={share['A']:.4f} B={share['B']:.4f}")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            sign = 1 if m["better"] == "lower" else -1
            row = {}
            for k, v in sets.items():
                q1, med, q3 = quartiles(
                    [r["metrics"][name]["value"] for r in v])
                row[k] = (q1, med, q3, (q3 - q1) / med)
            both = quartiles([r["metrics"][name]["value"]
                              for v in sets.values() for r in v])
            spread_all = (both[2] - both[0]) / both[1]
            worse = sign * (row["B"][1] - row["A"][1]) / row["A"][1]
            spread_ok = row["A"][3] <= bound and row["B"][3] <= bound
            agree = spread_ok and worse <= bound
            ok = ok and agree
            print(f"   {name:18s} A med {row['A'][1]:.4g} "
                  f"[{row['A'][0]:.4g}, {row['A'][2]:.4g}] "
                  f"spread {row['A'][3]:.3f} | B med {row['B'][1]:.4g} "
                  f"[{row['B'][0]:.4g}, {row['B'][2]:.4g}] "
                  f"spread {row['B'][3]:.3f} | all spread {spread_all:.3f} "
                  f"| B worse by {worse:+.3f} (bound {bound}) "
                  f"{'ok' if agree else 'DISAGREE'}")
        all_ok = all_ok and ok
        print(f"   {'agree' if ok else 'DISAGREE'}")
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
