#!/bin/bash
# The builder's pre-commit correctness gate: run Verify at sf0.01 and
# the strict checker (repr-exact, matches the driver's value hash).
# EXITS NON-ZERO on compile failure, a failed query, or any mismatch —
# and always checks FRESH dumps (the out dir is wiped first, so a
# broken build can never pass green against stale parquet).  Dumps and
# the sbt log go to a fresh temp dir per run, so two checkouts gated at
# once never check each other's dumps; OUT=<dir> overrides the dump dir.
#
#   tools/gate.sh                      # full run (all queries)
#   tools/gate.sh q08_groupby_expr,q26_minhash_lsh   # subset
set -e
cd "$(dirname "$0")/.."
SF=${SF:-/root/testdata/sf0.01}
WORK=$(mktemp -d -t graft_gate.XXXXXX)
OUT=${OUT:-$WORK/verify_out}
LOG=$WORK/gate_sbt.log
trap 'echo "GATE: dumps in $OUT, sbt log $LOG"' EXIT
ONLY="$1"
if [ -n "$ONLY" ]; then export SPARK_GRAFT_ONLY="$ONLY"; fi
rm -rf "$OUT"
if ! sbt -batch "runMain graft.Verify $SF $OUT" > "$LOG" 2>&1; then
  echo "GATE: Verify run failed —"
  tail -30 "$LOG"
  exit 1
fi
grep "\[verify\]" "$LOG" || true
python3 tools/strict_check.py "$SF" "$OUT" ${ONLY//,/ }
