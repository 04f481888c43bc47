#!/usr/bin/env python3
"""Runs the benchmark over several seeds and workloads into one result set.

    python3 etlbench/sweep.py --set aa1 --seeds 1-10
    python3 etlbench/sweep.py --set traced --seeds 1-3 --trace 1 --workloads cdc_lakehouse

Records land in .bench_results/<set>/<workload>-s<seed>-t<trace>.json, the
input of compare.py. Workloads alternate inside each seed, so slow drift of
the machine spreads over every workload alike.
"""
import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b) + 1)) if b else [int(a)]
    return out


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--set", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    out = os.path.join(ROOT, ".bench_results", args.set)
    os.makedirs(out, exist_ok=True)
    for seed in seeds(args.seeds):
        for w in args.workloads.split(","):
            dest = os.path.join(out, f"{w}-s{seed}-t{args.trace}.json")
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(ROOT, "etlbench", "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", str(args.trace), "--save", dest],
                               cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            print(f"{w} seed={seed} rc={r.returncode} {time.time() - t0:.0f}s {last[:160]}", flush=True)
            if r.returncode != 0:
                sys.stderr.write(r.stderr[-3000:])


if __name__ == "__main__":
    main()
