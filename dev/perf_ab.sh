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
# Then, for every measured entry, the median over the runs of its warm
# median on each side, the change/parent ratio of those medians and the
# number of pairs in which the change's warm median was lower; beside
# it the same for the entry's cold time (its pass-0 attempt, the part
# of cold_pass_s it accounts for).
# Last, one line per pair with the host record of each run: the 1-min
# load average from /proc/loadavg before and after it, and the share of
# all CPU ticks in /proc/stat that were iowait and steal while it ran,
# beside the pair's change/parent ratio (geometric mean over the
# measured entries of the change/parent warm-median ratio). A pair whose
# ratio moves with the load or the steal share was measured on a busy
# host, not on a changed engine.
# The printed log directory keeps each run's result line, its full
# record (`<side>-seed<N>.record.json`, every attempt), its per-entry
# warm medians (`<side>-seed<N>.bench.json`, the input of
# dev/bench_ratio.py) and its host record (`<side>-seed<N>.host`).
# Nothing under perfbench/ is changed; the parent copy is deleted at
# exit.
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

host() { # prints: load1 total_ticks iowait_ticks steal_ticks
  local load1 _rest
  read -r load1 _rest < /proc/loadavg
  awk -v l="$load1" '/^cpu / {t = 0; for (i = 2; i <= 9; i++) t += $i
    print l, t, $6, $9; exit}' /proc/stat
}

run() { # <side> <checkout> <seed>
  local out="$LOG/$1-seed$3.json" before
  before="$(host)"
  (cd "$2" && python3 perfbench/run.py --workload "$WORKLOAD" --seed "$3" \
    --seconds "$SECONDS_PER_RUN" --trace 0) | tail -n 1 > "$out"
  echo "$before $(host)" > "$LOG/$1-seed$3.host"
  cp "$2/perfbench/out/results/$WORKLOAD-seed$3-trace0.bench.json" "$LOG/$1-seed$3.bench.json"
  cp "$2/perfbench/out/results/$WORKLOAD-seed$3-trace0.json" "$LOG/$1-seed$3.record.json"
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
def entries(side, seed):
    with open(f"{log}/{side}-seed{seed}.bench.json") as f:
        return json.load(f)["queries"]
def cold_entries(side, seed):
    with open(f"{log}/{side}-seed{seed}.record.json") as f:
        attempts = json.load(f)["attempts"]
    cold = {}
    for a in attempts:
        if a["pass"] == 0:
            cold[a["entry"]] = cold.get(a["entry"], 0.0) + a["s"]
    return cold
warm = {s: [entries(s, seed0 + i) for i in range(pairs)] for s in ("parent", "change")}
cold = {s: [cold_entries(s, seed0 + i) for i in range(pairs)] for s in ("parent", "change")}
names = sorted(set.intersection(*(set(q) for s in warm.values() for q in s)))
def compare(runs, e):
    p = [q[e] for q in runs["parent"]]
    c = [q[e] for q in runs["change"]]
    pm, cm = statistics.median(p), statistics.median(c)
    won = sum(b < a for a, b in zip(p, c))
    ratio = f"{cm / pm:.3f}" if pm > 0 else "-"
    return f"{pm:>10.4g}{cm:>10.4g}{ratio:>8}{won:>5}/{pairs}"
print(f"\n{'entry (median, s)':<28}{'warm':>10}{'':>10}{'':>8}{'':>8}   cold")
print(f"{'':<28}{'parent':>10}{'change':>10}{'ratio':>8}{'won':>8}   "
      f"{'parent':>10}{'change':>10}{'ratio':>8}{'won':>8}")
for e in names:
    cold_cols = (compare(cold, e) if all(e in q for s in cold.values() for q in s)
                 else f"{'-':>10}{'-':>10}{'-':>8}{'-':>8}")
    print(f"{e:<28}{compare(warm, e)}   {cold_cols}")
def host(side, seed):
    with open(f"{log}/{side}-seed{seed}.host") as f:
        l0, t0, w0, s0, l1, t1, w1, s1 = map(float, f.read().split())
    ticks = max(t1 - t0, 1.0)
    return f"{l0:>7.2f}{l1:>8.2f}{100 * (w1 - w0) / ticks:>7.1f}{100 * (s1 - s0) / ticks:>7.1f}"
cols = f"{'ld.pre':>7}{'ld.post':>8}{'iow%':>7}{'steal%':>7}"
print(f"\n{'':<13}   {'parent':<29}   change")
print(f"{'seed':<6}{'ratio':>7}   {cols}   {cols}")
for i in range(pairs):
    seed = seed0 + i
    rs = [warm["change"][i][e] / warm["parent"][i][e] for e in names
          if warm["parent"][i][e] > 0 and warm["change"][i][e] > 0]
    ratio = statistics.geometric_mean(rs) if rs else float("nan")
    print(f"{seed:<6}{ratio:>7.3f}   {host('parent', seed)}   {host('change', seed)}")
EOF
