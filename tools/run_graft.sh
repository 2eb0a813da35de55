#!/bin/bash
# Raw JVM runner for graft mains — skips sbt startup (~45 s/run).
# Usage: tools/run_graft.sh <mainClass> [args...]   (env vars pass through)
MAIN=$1; shift
# Heap: SPARK_DRIVER_MEM, else half of MemTotal clamped to [2g, 16g] —
# the same default build.sbt gives forked runs.
HEAP=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 16 ? 16 : g) "g"}' </proc/meminfo 2>/dev/null ||
  echo 2g)}
CP=/root/repo/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')
exec java \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx$HEAP \
  -cp "$CP" "$MAIN" "$@"
