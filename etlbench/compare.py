#!/usr/bin/env python3
"""Compares two result sets of the benchmark (choosing-metrics section 8).

    python3 etlbench/compare.py BASE CHANGE [--json out.json]

BASE and CHANGE are result-set names under .bench_results/ (or paths); use
two sets of the same commit for an A/A check, or parent and change. For each
workload and end-to-end metric it prints each side's median and quartiles
and a verdict:

  gain        the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than BASE's IQR
  regression  the change's median is worse than BASE's by more than the
              metric's bound
  unresolved  a side's IQR exceeds the bound (unless every change run
              beats every base run), so the bound cannot be judged
  within      none of the above

It also checks every run's outputs, lists determinism counters that differ
between runs of one seed (work counts exactly; stored_bytes_per_row within
0.01%, since rows leave a shuffle in no fixed order), reports the traced runs' cycle_p50_s beside the
untraced one (the tracing overhead), and in an A/A reading tells whether
each spread is below a third of its bound.
"""
import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BYTES_TOLERANCE = 1e-4


def load(name):
    path = name if os.path.isdir(name) else os.path.join(ROOT, ".bench_results", name)
    recs = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        recs[(r["workload"], r["seed"], int(bool(r["trace"])))] = r
    if not recs:
        sys.exit(f"compare: no records under {path}")
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def worse(better, a, b):
    """How much worse b is than a, as a share of a (negative: better)."""
    if a == 0:
        return 0.0
    return (b - a) / a if better == "lower" else (a - b) / a


def compare(base, change, spec):
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    rows, problems, notes = [], [], []
    workloads = sorted({k[0] for k in base} | {k[0] for k in change})
    for w in workloads:
        a_runs = sorted((k[1], r) for k, r in base.items() if k[0] == w and k[2] == 0)
        b_runs = sorted((k[1], r) for k, r in change.items() if k[0] == w and k[2] == 0)
        if not a_runs or not b_runs:
            continue
        for side, runs in (("base", a_runs), ("change", b_runs)):
            for seed, r in runs:
                if not r["correct"] or r["failed"]:
                    problems.append(f"{w} seed {seed} ({side}): {r['failed']} of {r['attempted']} cycles failed")
        shared = sorted(set(s for s, _ in a_runs) & set(s for s, _ in b_runs))
        if len(shared) >= min(len(a_runs), len(b_runs)):
            pairs = [(dict(a_runs)[s], dict(b_runs)[s]) for s in shared]
        else:
            pairs = list(zip([r for _, r in a_runs], [r for _, r in b_runs]))
        for s in shared:
            da, db = dict(a_runs)[s]["determinism"], dict(b_runs)[s]["determinism"]
            diff = {k: (da.get(k), db.get(k)) for k in sorted(set(da) | set(db)) if da.get(k) != db.get(k)}
            # rows leave a shuffle in no fixed order, so a file's compressed
            # size can move by a few bytes; the work counts must match exactly
            stored = diff.get("stored_bytes_per_row")
            if stored and abs(stored[0] - stored[1]) <= BYTES_TOLERANCE * abs(stored[0]):
                notes.append(f"{w} seed {s}: stored_bytes_per_row {stored[0]:.6f} vs {stored[1]:.6f}")
                del diff["stored_bytes_per_row"]
            if diff:
                problems.append(f"{w} seed {s}: determinism counters differ {diff}")
        for name, m in metrics.items():
            a = [r["end_to_end"][name] for _, r in a_runs]
            b = [r["end_to_end"][name] for _, r in b_runs]
            qa, qb = quartiles(a), quartiles(b)
            spread_a = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
            spread_b = (qb[2] - qb[0]) / qb[1] if qb[1] else 0.0
            shift = worse(m["better"], qa[1], qb[1])
            wins = sum(1 for x, y in pairs if worse(m["better"], x["end_to_end"][name], y["end_to_end"][name]) < 0)
            all_better = all(worse(m["better"], x, y) < 0 for x in a for y in b)
            if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(qb[1] - qa[1]) > (qa[2] - qa[0]):
                verdict = "gain"
            elif name != "setup_s" and max(spread_a, spread_b) > m["bound"] and not all_better:
                verdict = "unresolved"
            elif shift > m["bound"]:
                verdict = "regression"
            else:
                verdict = "within"
            rows.append({"workload": w, "metric": name, "unit": m["unit"], "bound": m["bound"],
                         "base": {"q1": qa[0], "median": qa[1], "q3": qa[2], "n": len(a)},
                         "change": {"q1": qb[0], "median": qb[1], "q3": qb[2], "n": len(b)},
                         "spread_base": spread_a, "spread_change": spread_b,
                         "worse_by": shift, "wins": wins, "pairs": len(pairs), "verdict": verdict,
                         "steady": name == "setup_s" or max(spread_a, spread_b) < m["bound"] / 3})
    overhead = []
    for recs, side in ((base, "base"), (change, "change")):
        for w in workloads:
            traced = [r["per_layer"]["trace.cycle_p50_s"] for k, r in recs.items() if k[0] == w and k[2] == 1]
            plain = [r["end_to_end"]["cycle_p50_s"] for k, r in recs.items() if k[0] == w and k[2] == 0]
            if traced and plain:
                t, u = statistics.median(traced), statistics.median(plain)
                overhead.append({"set": side, "workload": w, "traced_cycle_p50_s": t,
                                 "untraced_cycle_p50_s": u, "overhead": t / u - 1})
    return rows, problems, notes, overhead


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--json")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    rows, problems, notes, overhead = compare(load(args.base), load(args.change), spec)
    print(f"{'workload':<15}{'metric':<22}{'base median [q1, q3]':<34}{'change median [q1, q3]':<34}"
          f"{'spread':>14}{'worse':>8}{'bound':>7}  verdict")
    for r in rows:
        a, b = r["base"], r["change"]
        print(f"{r['workload']:<15}{r['metric']:<22}"
              f"{'%.4g [%.4g, %.4g]' % (a['median'], a['q1'], a['q3']):<34}"
              f"{'%.4g [%.4g, %.4g]' % (b['median'], b['q1'], b['q3']):<34}"
              f"{'%.3f/%.3f' % (r['spread_base'], r['spread_change']):>14}"
              f"{r['worse_by']:>+8.3f}{r['bound']:>7.2f}  {r['verdict']}"
              f"{'' if r['steady'] else '  (spread above bound/3)'}")
    for o in overhead:
        print(f"tracing overhead {o['set']} {o['workload']}: traced cycle_p50 {o['traced_cycle_p50_s']:.4g}s "
              f"vs untraced {o['untraced_cycle_p50_s']:.4g}s ({o['overhead']:+.1%})")
    for n in notes:
        print("note: byte-level difference within tolerance,", n)
    for p in problems:
        print("PROBLEM", p)
    if not problems:
        print("all outputs correct; determinism counters match for every shared seed")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"rows": rows, "problems": problems, "notes": notes,
                       "tracing_overhead": overhead}, fh, indent=1)


if __name__ == "__main__":
    main()
