#!/bin/bash
# Run a graft main class in its own JVM (no sbt lock), mirroring
# build.sbt's javaOptions. Usage: runmain.sh [-mXX g] <mainClass> [args...]
# src/main/resources is on the classpath because `sbt compile` alone does
# not copy it into target/: without its META-INF/services the graftgen
# source is unregistered (DATA_SOURCE_NOT_FOUND).
ROOT=$(cd "$(dirname "$0")/.." && pwd)
MEM=${SPARK_DRIVER_MEM:-20g}
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
