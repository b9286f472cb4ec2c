#!/bin/bash
# Run a graft main class directly on the compiled classes + Spark jars,
# bypassing sbt (no lock contention with a concurrent sbt test, no JVM
# spin-up through the build tool). Mirrors build.sbt's javaOptions.
# Usage: tools/run_main.sh <mainClass> [args...]   (env passes through)
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# default heap: half of physical RAM, clamped to 2-8 GB (the test suite's
# driver-memory formula), so the default fits the machine it runs on
DEFAULT_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  </proc/meminfo 2>/dev/null || echo 2g)"
exec java $ADD_OPENS ${JAVA_EXTRA:-} \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-$DEFAULT_MEM}" \
  -cp "$CP" "$@"
