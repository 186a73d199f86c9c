#!/bin/bash
# Snapshot what the slot registry yields, so two checkouts can be diffed
# after a change that should move code without changing any slot:
#
#   <outdir>/oracle_sql.json          every oracle SQL, written by
#                                     graft.Verify with no slot run
#   <outdir>/oracle_sql.sorted.json   the same object, keys sorted
#   <outdir>/plans/<slot>_plan.txt    each slot's formatted plan
#                                     (graft.tools.PlanDump), with
#                                     expression and plan ids, temp-dir
#                                     paths, uuids, lambda class numbers,
#                                     identity hashes and the checkout
#                                     path masked
#   <outdir>/logs/                    the two sbt runs
#
#   SF=<corpus dir> tools/slot_equiv.sh /tmp/equiv_a   # in one checkout
#   SF=<corpus dir> tools/slot_equiv.sh /tmp/equiv_b   # in the other
#   diff -r -x logs -x oracle_sql.json /tmp/equiv_a /tmp/equiv_b
#
# SF is the corpus directory (the tables tools/gate.sh reads); use the
# same one on both sides.  Building a slot's frame runs its eager work
# (stream triggers, store commits, in-construction jobs), so the plan
# pass takes minutes.
set -e
cd "$(dirname "$0")/.."
OUT=${1:?usage: tools/slot_equiv.sh <outdir>}
: "${SF:?set SF to the corpus directory}"
rm -rf "$OUT"
mkdir -p "$OUT/plans" "$OUT/logs"
OUT=$(cd "$OUT" && pwd)

run() {  # run <log name> <sbt command>
  if ! sbt -batch "$2" > "$OUT/logs/$1.log" 2>&1; then
    echo "slot_equiv: '$2' failed —"
    tail -30 "$OUT/logs/$1.log"
    exit 1
  fi
}
# a slot name that matches nothing: Verify runs no slot, writes the JSON
run verify "runMain graft.Verify $SF $OUT __no_slot__"
SPARK_GRAFT_SF_DIR=$SF run plandump "runMain graft.tools.PlanDump $OUT/plans plan"
grep "PLAN-ERR" "$OUT/logs/plandump.log" || true

python3 - "$OUT" "$PWD" "${TMPDIR:-/tmp}" <<'EOF'
import json, pathlib, re, sys
out, checkout, tmp = pathlib.Path(sys.argv[1]), sys.argv[2], sys.argv[3].rstrip("/")
oracle = json.loads((out / "oracle_sql.json").read_text())
(out / "oracle_sql.sorted.json").write_text(
    json.dumps(oracle, indent=1, sort_keys=True) + "\n")
masks = [
    (re.compile(re.escape(checkout)), "<checkout>"),
    # Files.createTempDirectory / createTempFile names: prefix + digits
    (re.compile(re.escape(tmp) + r"/([\w.-]*?)\d{6,}"), r"<tmp>/\1<n>"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    # ManifestStore's short uuid-derived dir names (store_, v0-batch0-)
    (re.compile(r"(?<=[-_])[0-9a-f]{8}(?![0-9a-z])"), "<id>"),
    (re.compile(r"#\d+"), "#<n>"),
    (re.compile(r"plan_id=\d+"), "plan_id=<n>"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$<n>"),
    (re.compile(r"@[0-9a-f]{1,8}\b"), "@<hash>"),
]
plans = sorted((out / "plans").glob("*.txt"))
for p in plans:
    text = p.read_text()
    for rx, sub in masks:
        text = rx.sub(sub, text)
    p.write_text(text)
print(f"slot_equiv: {len(oracle)} oracle SQL strings, {len(plans)} plans in {out}")
EOF
