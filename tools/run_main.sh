#!/bin/bash
# Run a graft main directly on the sbt-compiled classes, bypassing sbt's
# JVM-per-invocation overhead (identical flags to build.sbt's javaOptions).
# Usage: tools/run_main.sh <mainClass> [args...]
MAIN="$1"; shift
CLASSES="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)/target/scala-2.13/classes"
# Spark jars: $SPARK_HOME, else the installation whose spark-submit is on PATH
SPARK_HOME="${SPARK_HOME:-$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")}"
if [ ! -d "$SPARK_HOME/jars" ]; then
  echo "run_main.sh: no Spark jars found; set SPARK_HOME" >&2; exit 1
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:$SPARK_HOME/jars/*" \
  "$MAIN" "$@"
