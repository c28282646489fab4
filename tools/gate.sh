#!/usr/bin/env bash
# Snapshot gate (r4 verdict "Next round" #2): run this BEFORE any
# end-of-round / milestone commit. A snapshot must never ship with the
# repo's own suite red — r4 shipped 2 failing PlanSpec contracts because
# the final commit was cut without a full-suite run.
#
# Usage: tools/gate.sh [--full]
#   default : sbt test + Verify/oracle at sf0.001 (fast, ~3 min)
#   --full  : also Verify/oracle at sf0.01 + a bench pass at sf0.1
#
# Exits non-zero on the first failed stage; prints GATE: PASS at the end.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== gate: sbt test =="
sbt -batch test 2>&1 | tail -4 | tee /tmp/gate_test.log
grep -q "All tests passed." /tmp/gate_test.log

echo "== gate: Verify + oracle @ sf0.001 =="
rm -rf /tmp/gate_vout
sbt -batch "runMain graft.Verify /root/testdata/sf0.001 /tmp/gate_vout" \
  > /tmp/gate_verify.log 2>&1 || { tail -20 /tmp/gate_verify.log; exit 1; }
python3 tools/check_oracle.py /root/testdata/sf0.001 /tmp/gate_vout \
  | tee /tmp/gate_oracle.log | tail -1
grep -q ", 0 fail ==" /tmp/gate_oracle.log

if [[ "${1:-}" == "--full" ]]; then
  echo "== gate: Verify + oracle @ sf0.01 =="
  rm -rf /tmp/gate_vout01
  sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_vout01" \
    > /tmp/gate_verify01.log 2>&1 || { tail -20 /tmp/gate_verify01.log; exit 1; }
  python3 tools/check_oracle.py /root/testdata/sf0.01 /tmp/gate_vout01 \
    | tee /tmp/gate_oracle01.log | tail -1
  grep -q ", 0 fail ==" /tmp/gate_oracle01.log

  echo "== gate: bench @ sf0.1 =="
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$(nproc)" \
    sbt -batch "runMain graft.Bench" 2>&1 | grep -o '"metric":"total","value":[0-9.]*'
fi

echo "GATE: PASS"
