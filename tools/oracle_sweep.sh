#!/usr/bin/env bash
# The oracle sweep: graft.Verify + tools/check_oracle.py at each harness
# scale factor (sf0.001, sf0.01, sf0.1; TESTDATA.md), then at sf0.01
# with broadcast joins off (spark.sql.autoBroadcastJoinThreshold=-1, the
# at-scale regime every size gate then takes). Prints one
# "N/N queries match" line per run, and every FAIL line. Exits non-zero
# if any query mismatches or any run fails. Takes no arguments; ~30 min
# on 4 cores.
set -uo pipefail
cd "$(dirname "$0")/.."

data=/root/testdata
work=$(mktemp -d)
trap 'rm -rf "$work"' EXIT
status=0

# sweep <label> <sf> [sbt command run before Verify]
sweep() {
  local label=$1 sf=$2
  shift 2
  rm -rf "$work/out"
  if ! sbt -batch "$@" "runMain graft.Verify $data/$sf $work/out" > "$work/verify.log" 2>&1; then
    echo "$label: Verify failed"
    tail -20 "$work/verify.log"
    status=1
    return
  fi
  # a query that threw in Verify has no output, so the oracle check fails it
  grep '\[verify\]' "$work/verify.log"
  python3 tools/check_oracle.py "$data/$sf" "$work/out" > "$work/oracle.log" 2>&1 || status=1
  grep -A2 '^FAIL' "$work/oracle.log"
  echo "$label: $(tail -1 "$work/oracle.log")"
}

sweep sf0.001 sf0.001
sweep sf0.01 sf0.01
sweep sf0.1 sf0.1
sweep "sf0.01, broadcast joins off" sf0.01 \
  'set javaOptions += "-Dspark.sql.autoBroadcastJoinThreshold=-1"'

if [ "$status" -ne 0 ]; then echo "ORACLE SWEEP FAIL"; else echo "ORACLE SWEEP OK"; fi
exit "$status"
