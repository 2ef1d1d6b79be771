#!/bin/bash
# Run graft.Verify directly on the compiled classes (faster than sbt run).
# Usage: tools/run_verify.sh [sfDir] [outDir] [mainClass] [extraArgs...]
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/graft_verify}
MAIN=${3:-graft.Verify}
shift $(( $# > 3 ? 3 : $# ))
ROOT=$(cd "$(dirname "$0")/.." && pwd)
CP="$ROOT/target/scala-2.13/classes:/opt/spark/jars/*"
# heap: half the physical memory clamped to 2-8 GB unless SPARK_DRIVER_MEM says
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Xmx$HEAP \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$MAIN" "$SF" "$OUT" "$@"
