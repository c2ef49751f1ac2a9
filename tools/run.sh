#!/bin/bash
# Fast launcher: run a graft main class directly with java (skips sbt startup).
# Usage: tools/run.sh <mainClass> [args...]   e.g. tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/vout
# Requires a prior `sbt compile` (classes in target/scala-2.13/classes).
set -euo pipefail
CP="/root/repo/target/scala-2.13/classes"
for j in /opt/spark/jars/*.jar; do CP="$CP:$j"; done
# scala-library comes with spark jars
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
# session settings (UI off, UTC, extensions) come from graft.Session.builder
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
