#!/bin/bash
# Run a graft main directly against this checkout's compiled classes
# (bypasses sbt). Stdout is the program's; Spark's log and graft's
# diagnostics (e.g. Verify's "[verify] <name> failed: ..." lines) go to
# stderr.
# Usage: tools/run.sh graft.Bench [args...]
#   env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM (heap; default
#   half the machine's memory, between 2g and 8g)
MAIN=$1; shift
ROOT=$(cd "$(dirname "$0")/.." && pwd)
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx$MEM \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
