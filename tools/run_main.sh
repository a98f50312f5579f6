#!/bin/bash
# Run a graft main class without sbt (frees the sbt lock during long
# benches; mirrors build.sbt's fork javaOptions).
MAIN=$1; shift
# this checkout's own classes, wherever it is
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens=java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  --add-modules jdk.incubator.vector \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -cp "$CLASSES:/opt/spark/jars/*" \
  "$MAIN" "$@"
