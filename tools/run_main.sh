#!/bin/bash
# Run a graft main against compiled classes + the jars of the Spark
# distribution at $SPARK_HOME without paying sbt's fork/startup per
# invocation. Mirrors build.sbt's javaOptions
# (JDK-17 add-opens, UTC session TZ, SPARK_DRIVER_MEM heap); the one copy
# of the add-opens list under tools/.
# Usage: run_main.sh [-cp <classesDir>] <mainClass> [args...]
#   (classes default to this checkout's sbt output; env: SPARK_GRAFT_* passthrough)
set -euo pipefail
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
if [ "${1:-}" = "-cp" ]; then CLASSES="$2"; shift 2; fi
SPARK="${SPARK_HOME:?set SPARK_HOME to the Spark distribution}"
MAIN="$1"; shift
OPENS=(java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
       java.util java.util.concurrent java.util.concurrent.atomic)
FLAGS=()
for p in "${OPENS[@]}"; do FLAGS+=(--add-opens "java.base/$p=ALL-UNNAMED"); done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  FLAGS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
exec java "${FLAGS[@]}" \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:$SPARK/jars/*" \
  "$MAIN" "$@"
