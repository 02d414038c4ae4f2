#!/bin/bash
# Correctness gate: run every oracled query through graft.Verify at sf0.01
# and compare each result with the DuckDB oracle (tools/driver_check.py).
#
# Usage: tools/gate.sh <out_dir> [flat|off|layout]
#   flat    the shipped defaults (default)
#   off     every graft optimizer rule switch off — a differential that shows
#           each rewrite leaves results unchanged (plans.SingleTaskSort has
#           no switch: SingleTaskSortSpec compares it with the range sort);
#           exits 2 before running if no source under src/main reads one
#           of its keys
#   layout  the shipped defaults over a bucketed layout: orders and lineitem
#           persisted on orderkey into 8 buckets (tools.Bucketize, in a
#           temporary directory removed on exit) and served through
#           spark.graft.bucketedDir
# Writes <out_dir>/verify.log and <out_dir>/check.txt; exits non-zero when
# any query fails the oracle check.
set -u
OUT=${1:?usage: tools/gate.sh <out_dir> [flat|off|layout]}
POSTURE=${2:-flat}
SF=/root/testdata/sf0.01
cd "$(dirname "$0")/.."
mkdir -p "$OUT"

case "$POSTURE" in
  flat) unset SPARK_GRAFT_CONF ;;
  off)
    OFF="spark.graft.eagerAgg=false,spark.graft.dynamicFilter.enabled=false,spark.graft.dynamicFilter.longSet=false,spark.graft.scaledLongSum=false,spark.graft.cascadeGroupingSets=false,spark.graft.fuseScalarAggs=false,spark.graft.dynamicFrameJoin=false,spark.graft.singleStageAgg=false,spark.graft.sortSharedAgg=false,spark.graft.streamingSortedAgg=false"
    # a switch no source reads (a deleted rule's, or a typo) would turn
    # nothing off: refuse it before anything runs
    for kv in ${OFF//,/ }; do
      grep -rqF "\"${kv%%=*}\"" src/main || {
        echo "off posture: ${kv%%=*} is not read anywhere under src/main" >&2; exit 2; }
    done
    export SPARK_GRAFT_CONF="$OFF"
    ;;
  layout)
    unset SPARK_GRAFT_CONF
    LAYOUT=$(mktemp -d "${TMPDIR:-/tmp}/graft-gate-layout.XXXXXX")
    trap 'rm -rf "$LAYOUT"' EXIT
    tools/run.sh graft.tools.Bucketize "$SF" "$LAYOUT" 8 > "$OUT/bucketize.log" 2>&1 || {
      echo "Bucketize failed: see $OUT/bucketize.log" >&2; exit 2; }
    export SPARK_GRAFT_CONF="spark.graft.bucketedDir=$LAYOUT"
    ;;
  *) echo "unknown posture: $POSTURE (flat|off|layout)" >&2; exit 2 ;;
esac

tools/run.sh graft.Verify "$SF" "$OUT/results" > "$OUT/verify.log" 2>&1
python3 tools/driver_check.py "$SF" "$OUT/results" > "$OUT/check.txt" 2>&1
status=$?
tail -1 "$OUT/check.txt"
grep '^FAIL' "$OUT/check.txt"
exit $status
