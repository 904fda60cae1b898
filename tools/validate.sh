#!/usr/bin/env bash
# Full round validation: scalatest, tri-SF oracle parity, double-run
# determinism, bench. ~15 min on 32 cores. Usage: tools/validate.sh
set -uo pipefail
cd "$(dirname "$0")/.."
fail=0

echo "== scalatest =="
sbt -batch test 2>&1 | tail -3 || fail=1

for sf in 0.001 0.01 0.1; do
  echo "== t2 oracle @ sf$sf =="
  sbt -batch "runMain graft.Verify /root/testdata/sf$sf target/validate_sf$sf" 2>&1 \
    | grep -E '\[verify\].*failed' && fail=1
  python3 tools/check.py "/root/testdata/sf$sf" "target/validate_sf$sf" | tail -1 \
    | tee /dev/stderr | grep -q ' 0 fail' || fail=1
done

echo "== determinism (second run @ sf0.01, value compare) =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.01 target/validate_det" 2>&1 \
  | grep -E '\[verify\].*failed' && fail=1
python3 tools/same_outputs.py target/validate_sf0.01 target/validate_det || fail=1

echo "== bench @ sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  sbt -batch "runMain graft.Bench" 2>&1 | grep -o '{"metric".*}' | head -1

[ "$fail" = 0 ] && echo "VALIDATE: ALL GREEN" || echo "VALIDATE: FAILURES (see above)"
exit "$fail"
