#!/bin/bash
# Launch a graft main class directly (no sbt lock): tools/run.sh <mainClass> [args...]
# Env knobs: SPARK_DRIVER_MEM (default: half of MemTotal, clamped to 2-8g),
# SPARK_GRAFT_CPUS, SPARK_GRAFT_SF_DIR.
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="$1"; shift
HEAP="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$HEAP" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "$MAIN" "$@"
