#!/bin/bash
# Run a graft main class directly against the compiled classes of this
# checkout + Spark jars, bypassing sbt (avoids the sbt project lock during
# long test runs).
# Usage: tools/jrun.sh [-Xmx..] <mainClass> [args...]
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# default heap: MemTotal/2, clamped to 2-8 GiB (the Tier-1 formula)
MEM="${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)}"
exec java $OPENS -Xmx$MEM $JRUN_EXTRA \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$ROOT/target/scala-2.13/classes:/opt/spark/jars/*" "$@"
