#!/usr/bin/env bash
# Over-gate ADJUDICATION (BASELINE.md protocol, one command): median-of-5
# idle re-measure of the named queries via SPARK_GRAFT_BENCH_ONLY, compared
# against the frozen BASELINE.md gates. The adjudication record is appended
# as one line to bench/REMEASURE_ARCHIVE.jsonl (its "artifact" key names the
# run, REMEASURE_<timestamp>), and the run's stderr to
# bench/REMEASURE_ARCHIVE.log under a "===== bench/<artifact>.log ====="
# header. Run this on an otherwise-idle box before believing ANY over-gate
# reading from a shared-box bench — contention has produced spurious 2-4x
# rows in three consecutive rounds (r5-r7), each cleared by hand.
#
# Usage: tools/remeasure.sh <q1,q2,...> [sfDir]
#   tools/remeasure.sh ext36_embed_pipeline,q62_windowed_dedup
# Exit: 0 every query clean or ungated; 1 no bench result captured;
# 3 some query over its gate or failed.
set -euo pipefail
cd "$(dirname "$0")/.."

QUERIES="${1:?usage: tools/remeasure.sh <q1,q2,...> [sfDir]}"
SF_DIR="${2:-/root/testdata/sf0.1}"
ARTIFACT="REMEASURE_$(date +%Y%m%d_%H%M%S)"
ARCHIVE=bench/REMEASURE_ARCHIVE.jsonl
ARCHIVE_LOG=bench/REMEASURE_ARCHIVE.log

# sbt prefixes stdout with "[info] " — extract the bare JSON line;
# stderr (per-run times, errors) goes to the archive log, not discarded
ERR=$(mktemp)
trap 'rm -f "$ERR"' EXIT
LINE=$(SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  SPARK_GRAFT_BENCH_RUNS=5 SPARK_GRAFT_BENCH_ONLY="$QUERIES" \
  sbt -batch "runMain graft.Bench" 2>"$ERR" | grep -o '{"metric".*}' | tail -1 || true)
# (|| true: Bench exits 2 when any query threw, but it prints the JSON
# line FIRST — the failed entries must reach the adjudication record,
# not die to pipefail)
{ echo "===== bench/$ARTIFACT.log ====="; cat "$ERR"; } >> "$ARCHIVE_LOG"
[ -n "$LINE" ] || { echo "remeasure: no bench JSON line captured (see $ARTIFACT in $ARCHIVE_LOG)" >&2; exit 1; }

python3 - "$LINE" "$ARTIFACT" "$ARCHIVE" <<'EOF'
import json, sys
sys.path.insert(0, "tools")
from gate_check import parse_gates  # shared parser incl. the drift guards

line, artifact, archive = sys.argv[1], sys.argv[2], sys.argv[3]
bench = json.loads(line)
gates = parse_gates("BASELINE.md")
rec = {"artifact": artifact, "protocol": "median-of-5 idle re-measure (BASELINE.md adjudication)",
       "sf": bench["sf"], "runs_per_query": bench.get("runs_per_query"),
       "errors": bench.get("errors", {}), "queries": {}}
bad = 0
for name, sec in sorted(bench["queries"].items()):
    g = gates.get(name)
    if sec < 0:  # Bench emits -1.0 for a query that THREW — never "clean"
        verdict, ratio = "failed", None
        bad += 1
    elif g is None:
        verdict, ratio = "ungated", None
    else:
        ratio = sec / g if g > 0 else float("inf")
        verdict = "over" if ratio > 2.0 else "clean"
        if verdict == "over":
            bad += 1
    rec["queries"][name] = {"median_s": sec, "gate_s": g,
                           "ratio": round(ratio, 3) if ratio is not None else None,
                           "verdict": verdict}
    extra = f" ({ratio:.2f}x)" if ratio is not None else ""
    err = rec["errors"].get(name)
    print(f"{name}: {sec:.2f}s vs gate {g if g is not None else '-'} -> {verdict}{extra}"
          + (f"  ERROR: {err}" if err else ""))
with open(archive, "a") as fh:
    fh.write(json.dumps(rec) + "\n")
print(f"adjudication {artifact} appended to {archive}")
sys.exit(3 if bad else 0)
EOF
