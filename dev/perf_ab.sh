#!/usr/bin/env bash
# A/B the engine benchmark between a parent commit and the working tree.
#
# Usage: dev/perf_ab.sh <parent-ref> <workload> <pairs> [first-seed]
#   e.g. dev/perf_ab.sh HEAD lakehouse_write 5 1101
#
# Exports <parent-ref> into a temporary directory (`git archive`, so no
# worktree bookkeeping is left in .git if the script is interrupted) and
# runs perfbench/run.py alternately in that copy and in the working tree:
# pair i uses seed first-seed+i on both sides, and the side that runs
# first alternates from pair to pair so a drift of the host does not
# favour one side. Each run uses BENCHMARK.json's run_seconds. Prints,
# for every end-to-end metric, the median on each side, the parent's
# quartiles, the number of pairs the change won (strictly better in the
# metric's direction) and whether a gain claim on that metric holds: at
# least 10 pairs, the change better in at least 9 of every 10, and the
# medians apart, in the better direction, by more than the parent's
# interquartile range.
# The printed log directory keeps each run's result line and its
# per-entry warm medians (`<side>-seed<N>.bench.json`, the input of
# dev/bench_ratio.py). Nothing under perfbench/ is changed; the parent
# copy is deleted at exit.
set -euo pipefail
cd "$(dirname "$0")/.."
REF="${1:?usage: dev/perf_ab.sh <parent-ref> <workload> <pairs> [first-seed]}"
WORKLOAD="${2:?usage: dev/perf_ab.sh <parent-ref> <workload> <pairs> [first-seed]}"
PAIRS="${3:?usage: dev/perf_ab.sh <parent-ref> <workload> <pairs> [first-seed]}"
SEED0="${4:-1101}"
SECONDS_PER_RUN="$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')"

PARENT="$(mktemp -d "${TMPDIR:-/tmp}/graft_perf_ab_parent.XXXXXX")"
LOG="$(mktemp -d "${TMPDIR:-/tmp}/graft_perf_ab_log.XXXXXX")"
trap 'rm -rf "$PARENT"' EXIT
git archive "$REF" | tar -x -C "$PARENT"
echo "== parent $(git rev-parse --short "$REF") in $PARENT; results in $LOG =="

run() { # <side> <checkout> <seed>
  local out="$LOG/$1-seed$3.json"
  (cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
    --seconds "$SECONDS_PER_RUN" --trace 0) | tail -n 1 > "$out"
  cp "$2/perfbench/out/results/$WORKLOAD-seed$3-trace0.bench.json" "$LOG/$1-seed$3.bench.json"
  echo "$1 seed $3: $(cat "$out")"
}

for i in $(seq 0 $((PAIRS - 1))); do
  seed=$((SEED0 + i))
  if [ $((i % 2)) -eq 0 ]; then
    run parent "$PARENT" "$seed"; run change . "$seed"
  else
    run change . "$seed"; run parent "$PARENT" "$seed"
  fi
done

python3 - "$LOG" "$SEED0" "$PAIRS" <<'EOF'
import json, statistics, sys
log, seed0, pairs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
bench = json.load(open("BENCHMARK.json"))
def metrics(side, seed):
    with open(f"{log}/{side}-seed{seed}.json") as f:
        return {k: v["value"] for k, v in json.load(f)["metrics"].items()}
runs = {s: [metrics(s, seed0 + i) for i in range(pairs)] for s in ("parent", "change")}
print(f"{'metric':<18}{'parent':>10}{'p.q1':>10}{'p.q3':>10}{'change':>10}"
      f"{'won':>8}  claim")
for m in bench["end_to_end"]:
    name, higher = m["name"], m["better"] == "higher"
    p = [r[name] for r in runs["parent"]]
    c = [r[name] for r in runs["change"]]
    won = sum((b > a) if higher else (b < a) for a, b in zip(p, c))
    q1, _, q3 = statistics.quantiles(p, n=4) if pairs > 1 else (p[0], p[0], p[0])
    pm, cm = statistics.median(p), statistics.median(c)
    gain = (cm - pm) if higher else (pm - cm)
    if pairs < 10:
        claim = "too few pairs"
    elif 10 * won >= 9 * pairs and gain > q3 - q1:
        claim = "met"
    else:
        claim = "not met"
    print(f"{name:<18}{pm:>10.4g}{q1:>10.4g}{q3:>10.4g}{cm:>10.4g}"
          f"{won:>5}/{pairs}  {claim}")
EOF
