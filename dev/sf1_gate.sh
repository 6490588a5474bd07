#!/usr/bin/env bash
# The standing sf1 gate (VERDICT r13 #6): synthesize the 10x-sf0.1
# dataset if absent, run the full-surface bench on it, archive the
# per-query map, and compare against the previous round's sf1 archive
# with the spread-aware median-of-ratios tool.
#
# Protocol notes (SCALE.md round-13/14):
#  - QUIET MACHINE: nothing else running — the r13 storm run produced
#    3 false failures; re-times on a quiet host collapsed them.
#  - local[nproc] and a driver of half the host's memory (at least
#    2g), read from nproc and MemTotal as the tier-1 test command
#    does; rounds through r18 ran local[8] / 24g, so an A/B against
#    an archive compares like with like only on a like host.
#
# Usage: dev/sf1_gate.sh <round>        e.g. dev/sf1_gate.sh 15
#   writes BENCH_LOCAL_sf1_r<round>.json and prints the A/B vs the
#   newest previous BENCH_LOCAL_sf1*.json archive.
set -euo pipefail
cd "$(dirname "$0")/.."
ROUND="${1:?usage: dev/sf1_gate.sh <round>}"
SF1="${SF1_DIR:-/tmp/graft_sf1}"
CPUS="$(env -u OMP_NUM_THREADS nproc)"
HALF=$(( CPUS / 2 > 0 ? CPUS / 2 : 1 ))
MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g) "g"}' </proc/meminfo)"

if [ ! -f "$SF1/_GRAFT_SF_COMPLETE" ]; then
  echo "== building sf1 dataset at $SF1 =="
  SPARK_GRAFT_CPUS=$CPUS SPARK_DRIVER_MEM=$MEM \
    dev/run.sh graft.tools.SfScale /root/testdata/sf0.1 "$SF1" 10 2>/dev/null
fi

echo "== sf1 bench (local[$CPUS], $MEM driver) =="
# stderr to a file (round 18): SPARK_GRAFT_TELEMETRY=1 per-entry
# heap/RDD/block-dir telemetry lands there when enabled, so a tail
# anomaly can be localized from the SAME run instead of a 95-min rerun
SPARK_GRAFT_CPUS=$CPUS SPARK_DRIVER_MEM=$MEM SPARK_GRAFT_SF_DIR="$SF1" \
  dev/run.sh graft.Bench 2>"/tmp/sf1_gate_r${ROUND}.err" | tail -1
cp BENCH_LOCAL.json "BENCH_LOCAL_sf1_r${ROUND}.json"
echo "archived BENCH_LOCAL_sf1_r${ROUND}.json"

PREV=$(ls -1 BENCH_LOCAL_sf1*.json | grep -v "_r${ROUND}\.json$" | sort | tail -1 || true)
if [ -n "$PREV" ]; then
  echo "== A/B vs $PREV (median-of-ratios, spread-aware) =="
  python3 dev/bench_ratio.py "$PREV" "BENCH_LOCAL_sf1_r${ROUND}.json" || true
fi

# Scaling evidence (round 18 — VERDICT r17 #5): sf0.1 is overhead-bound
# at every core count (8c beats 32c across the board, r17 scaling
# block), so parallel scale-safety can only be demonstrated here. Run
# the heavy entries isolated at local[nproc/2] vs local[nproc] and
# archive the per-query ratio; ratio ≥ ~1.5 on a compute-bound entry means the
# cores are being used; an entry that stays flat must carry a
# documented driver/IO-bound reason in OPTIMIZATION notes.
HEAVY="graph_components,dedup_near,pipeline_end2end,agg_weighted_median"
for C in "$CPUS" "$HALF"; do
  echo "== scaling probe local[$C]: $HEAVY =="
  SPARK_GRAFT_CPUS=$C SPARK_DRIVER_MEM=$MEM SPARK_GRAFT_SF_DIR="$SF1" \
    SPARK_GRAFT_ONLY="$HEAVY" dev/run.sh graft.Bench 2>/dev/null | tail -1
  cp BENCH_LOCAL.json "/tmp/scaling_c${C}.json"
done
python3 - "$ROUND" "$HALF" "$CPUS" <<'EOF'
import json, sys
rnd, lo, hi = sys.argv[1:4]
full = json.load(open(f"/tmp/scaling_c{hi}.json"))["queries"]
half = json.load(open(f"/tmp/scaling_c{lo}.json"))["queries"]
ratio = f"speedup_c{lo}_to_c{hi}"
out = {q: {f"c{lo}_sec": half[q], f"c{hi}_sec": full[q],
           ratio: round(half[q] / full[q], 3)}
       for q in sorted(full) if q in half}
path = f"SCALING_sf1_r{rnd}.json"
json.dump(out, open(path, "w"), indent=1)
print(f"archived {path}: " + ", ".join(
    f"{q} {v[ratio]}x" for q, v in out.items()))
EOF
