#!/bin/bash
# Run a graft main directly on the compiled classes (no sbt lock, no sbt
# startup): tools/run_main.sh graft.Bench [args...]. Compile first with
# `sbt compile`. Runs the classes of the checkout this script lives in, so
# a copy of another revision times that revision. Mirrors build.sbt's fork
# settings (JDK17 add-opens, UI off, UTC, SPARK_DRIVER_MEM heap).
set -e
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
: "${SPARK_HOME:?set SPARK_HOME to the Spark install whose jars build.sbt compiles against}"
MAIN="$1"; shift
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CLASSES:$SPARK_HOME/jars/*" \
  "$MAIN" "$@"
