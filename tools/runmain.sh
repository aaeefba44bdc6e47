#!/bin/bash
# Run a graft main class against the sbt-compiled classes + the Spark
# image jars, with the same JDK17 --add-opens set as build.sbt. Keeps
# long probes off the sbt lock so tests/compiles can proceed in parallel.
#   tools/runmain.sh graft.Verify /root/testdata/sf0.01 /tmp/verify01
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -XX:ReservedCodeCacheSize=512m \
  -cp "$CP" "$@"
