#!/usr/bin/env bash
# Full local gate in one command: compile + unit tests (no graft_* dir
# left behind) + the benchmark's own tests (WorkloadsSpec's
# entry-coverage check) + correctness (Verify dump → dtype-faithful
# DuckDB compare, no graft_* dir left behind, Verify's WARN lines within
# dev/warn_budget.txt per logger) + bench.
#   dev/ci.sh [sf_dir]      (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="${VERIFY_OUT:-/tmp/verify_out_ci}"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
# Run a command with a private java.io.tmpdir (through JAVA_TOOL_OPTIONS:
# dev/run.sh takes no JVM flags, and sbt's forked test JVM inherits the
# variable); every graft_* dir the run leaves there or in /dev/shm is a
# leak and fails the gate.
list_shm() { ls -d /dev/shm/graft_* 2>/dev/null | sort || true; }
no_leftovers() {
  local what="$1"; shift
  local tmp shm_before left
  tmp="$(mktemp -d)"
  shm_before="$(list_shm)"
  JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:-} -Djava.io.tmpdir=$tmp" "$@"
  left="$(ls -d "$tmp"/graft_* 2>/dev/null || true)
$(comm -13 <(echo "$shm_before") <(list_shm))"
  rm -rf "$tmp"
  if [ -n "$(echo "$left" | tr -d '[:space:]')" ]; then
    echo "$what left scratch dirs behind:"; echo "$left"; exit 1
  fi
}
echo "== sbt test =="
no_leftovers "sbt test" sbt -batch test
echo "== perfbench: sbt test =="
(cd perfbench && sbt -batch test)
echo "== graft.Verify $SF =="
mkdir -p "$OUT"
no_leftovers graft.Verify env SPARK_GRAFT_CPUS="$CPUS" \
  dev/run.sh graft.Verify "$SF" "$OUT" 2>"$OUT/verify.stderr"
# Verify's log stays in $OUT/verify.stderr; count its warnings per logger
# against dev/warn_budget.txt: a logger over its budget, or one the
# budget does not list, fails the gate
echo "WARN lines per logger in $OUT/verify.stderr:"
WARNS="$({ grep -oE ' WARN [^ :]+:' "$OUT/verify.stderr" || true; } \
  | sed 's/^ WARN //; s/:$//' | sort | uniq -c | sort -rn)"
echo "$WARNS"
OVER="$(echo "$WARNS" | awk '
  NR == FNR { if ($1 !~ /^#/ && NF == 2) budget[$2] = $1; next }
  NF == 2 && !($2 in budget && $1 <= budget[$2]) {
    print $2 ": " $1 " (budget " ($2 in budget ? budget[$2] : 0) ")" }' \
  dev/warn_budget.txt -)"
if [ -n "$OVER" ]; then
  echo "WARN lines over dev/warn_budget.txt:"; echo "$OVER"; exit 1
fi
echo "== dev/check.py =="
python3 dev/check.py "$SF" "$OUT"
echo "== graft.Bench ($SF) =="
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" dev/run.sh graft.Bench 2>/dev/null | tail -1
echo "== CI GREEN =="
