#!/bin/bash
# Correctness gate: run every oracled query through graft.Verify at sf0.01
# and compare each result with the DuckDB oracle (tools/driver_check.py).
#
# Usage: tools/gate.sh <out_dir> [flat|off]
#   flat  the shipped defaults (default)
#   off   every graft optimizer rule disabled — a differential that shows
#         each rewrite leaves results unchanged
# Writes <out_dir>/verify.log and <out_dir>/check.txt; exits non-zero when
# any query fails the oracle check.
set -u
OUT=${1:?usage: tools/gate.sh <out_dir> [flat|off]}
POSTURE=${2:-flat}
SF=/root/testdata/sf0.01
cd "$(dirname "$0")/.."

case "$POSTURE" in
  flat) unset SPARK_GRAFT_CONF ;;
  off)
    export SPARK_GRAFT_CONF="spark.graft.eagerAgg=false,spark.graft.dynamicFilter.enabled=false,spark.graft.dynamicFilter.longSet=false,spark.graft.scaledLongSum=false,spark.graft.cascadeGroupingSets=false,spark.graft.fuseScalarAggs=false,spark.graft.dynamicFrameJoin=false,spark.graft.singleStageAgg=false,spark.graft.sortSharedAgg=false,spark.graft.streamingSortedAgg=false,spark.graft.streamingSortedAgg.hybrid=false,spark.graft.joinReorder=false,spark.graft.layoutPick=false"
    ;;
  *) echo "unknown posture: $POSTURE (flat|off)" >&2; exit 2 ;;
esac

mkdir -p "$OUT"
tools/run.sh graft.Verify "$SF" "$OUT/results" > "$OUT/verify.log" 2>&1
python3 tools/driver_check.py "$SF" "$OUT/results" > "$OUT/check.txt" 2>&1
status=$?
tail -1 "$OUT/check.txt"
grep '^FAIL' "$OUT/check.txt"
exit $status
