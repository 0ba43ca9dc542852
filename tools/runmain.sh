#!/bin/bash
# Run a graft main class in its own JVM (no sbt lock), mirroring
# build.sbt's javaOptions. Usage: [SPARK_DRIVER_MEM=Ng] runmain.sh <mainClass> [args...]
# src/main/resources is on the classpath because `sbt compile` alone does
# not copy it into target/: without its META-INF/services the graftgen
# source is unregistered (DATA_SOURCE_NOT_FOUND).
ROOT=$(cd "$(dirname "$0")/.." && pwd)
# Default heap: half of MemTotal, clamped to [2g, 8g] (the same rule the
# Tier-1 test command uses for SPARK_DRIVER_MEM), so a heap the box cannot
# back fails as a Java OutOfMemoryError naming the heap, not as a kernel
# kill. SPARK_DRIVER_MEM overrides it.
MEM=${SPARK_DRIVER_MEM:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Dderby.stream.error.file=/tmp/derby.log -Xmx$MEM \
  -cp "$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources":'/opt/spark/jars/*' "$@"
