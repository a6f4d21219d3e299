#!/bin/bash
# Run a graft main class against the compiled classes + /opt/spark/jars.
# usage: scripts/run.sh <mainClass> [args...]   (e.g. graft.Verify /root/testdata/sf0.01 /tmp/out)
set -euo pipefail
cd "$(dirname "$0")/.."
# src/main/resources carries the mains' log4j2.properties (`sbt compile`
# does not copy resources into target/)
CP="target/scala-2.13/classes:src/main/resources:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" -cp "$CP" "$@"
