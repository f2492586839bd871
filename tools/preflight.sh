#!/usr/bin/env bash
# Round-end preflight (r9 postmortem: the snapshot commit shipped a red
# ContractSpec because nothing forced a suite run between the last
# code/resource change and the snapshot). Runs the cheap structural
# gates in ~2-3 min; the FULL bar before a snapshot is:
#   1. this script green
#   2. `sbt -batch test` green (377 tests, ~20 min on 4 cores)
#   3. tools/oracle_sweep.sh (the 3-SF Verify sweep + the past-gate run)
# The snapshot commit message must cite the green full-suite run.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== preflight: contract + plan-budget + leaf-stats + plan + portable-hash specs =="
spec_out=$(sbt -batch "testOnly graft.ContractSpec graft.PlanBudgetSpec graft.LeafStatsSpec graft.PlanSpec graft.PortableHash64Spec" 2>&1 || true)
echo "$spec_out" | grep -E 'Tests: succeeded|All tests passed|\*\*\* FAILED' || true
echo "$spec_out" | grep -q 'All tests passed' \
  || { echo "PREFLIGHT FAIL: specs red"; exit 1; }

echo "== preflight: entry smoke =="
smoke_out=$(sbt -batch "runMain graft.EntrySmoke" 2>&1 | grep -E 'ENTRY_ROWS|EVENTS_TS' || true)
echo "$smoke_out"
echo "$smoke_out" | grep -q 'ENTRY_ROWS=1000' \
  || { echo "PREFLIGHT FAIL: entry smoke"; exit 1; }

echo "PREFLIGHT OK (now run: sbt -batch test  AND  tools/oracle_sweep.sh)"
