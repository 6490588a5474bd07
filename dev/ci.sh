#!/usr/bin/env bash
# Full local gate in one command: compile + unit tests + the benchmark's
# own tests (WorkloadsSpec's entry-coverage check) +
# correctness (Verify dump → dtype-faithful DuckDB compare, with Verify's
# WARN lines counted per logger) + bench.
#   dev/ci.sh [sf_dir]      (default /root/testdata/sf0.01)
set -euo pipefail
cd "$(dirname "$0")/.."
SF="${1:-/root/testdata/sf0.01}"
OUT="${VERIFY_OUT:-/tmp/verify_out_ci}"
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
echo "== sbt test =="
sbt -batch test
echo "== perfbench: sbt test =="
(cd perfbench && sbt -batch test)
echo "== graft.Verify $SF =="
# Verify runs with a private java.io.tmpdir (dev/run.sh takes no JVM
# flags, so it goes through JAVA_TOOL_OPTIONS); every graft_* dir the
# run leaves there or in /dev/shm is a leak.
VTMP="$(mktemp -d)"
list_shm() { ls -d /dev/shm/graft_* 2>/dev/null | sort || true; }
SHM_BEFORE="$(list_shm)"
mkdir -p "$OUT"
SPARK_GRAFT_CPUS="$CPUS" JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:-} -Djava.io.tmpdir=$VTMP" \
  dev/run.sh graft.Verify "$SF" "$OUT" 2>"$OUT/verify.stderr"
# Verify's log stays in $OUT/verify.stderr; report its warnings per logger
echo "WARN lines per logger in $OUT/verify.stderr:"
{ grep -oE ' WARN [^ :]+:' "$OUT/verify.stderr" || true; } \
  | sed 's/^ WARN //; s/:$//' | sort | uniq -c | sort -rn
LEFT="$(ls -d "$VTMP"/graft_* 2>/dev/null || true)
$(comm -13 <(echo "$SHM_BEFORE") <(list_shm))"
rm -rf "$VTMP"
if [ -n "$(echo "$LEFT" | tr -d '[:space:]')" ]; then
  echo "graft.Verify left scratch dirs behind:"; echo "$LEFT"; exit 1
fi
echo "== dev/check.py =="
python3 dev/check.py "$SF" "$OUT"
echo "== graft.Bench ($SF) =="
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" dev/run.sh graft.Bench 2>/dev/null | tail -1
echo "== CI GREEN =="
