#!/usr/bin/env bash
# Full local gate in one command: compile + unit tests + the benchmark's
# own tests (WorkloadsSpec's entry-coverage check) +
# correctness (Verify dump → dtype-faithful DuckDB compare) + bench.
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
SPARK_GRAFT_CPUS="$CPUS" dev/run.sh graft.Verify "$SF" "$OUT" 2>/dev/null
echo "== dev/check.py =="
python3 dev/check.py "$SF" "$OUT"
echo "== graft.Bench ($SF) =="
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" dev/run.sh graft.Bench 2>/dev/null | tail -1
echo "== CI GREEN =="
