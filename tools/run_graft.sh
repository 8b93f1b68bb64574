#!/bin/bash
# Raw-java runner for graft mains (faster than sbt for iteration): runs
# the compiled classes of the checkout this script sits in
# (`sbt compile` first). Usage: tools/run_graft.sh <main class> [args...]
# Mirrors build.sbt's jdk17AddOpens — WITHOUT these, DateType/row
# decodes fail with EXPRESSION_DECODING_FAILED on JDK 17.
OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke \
  java.base/java.lang.reflect java.base/java.io java.base/java.net \
  java.base/java.nio java.base/java.util java.base/java.util.concurrent \
  java.base/java.util.concurrent.atomic java.base/sun.nio.ch \
  java.base/sun.nio.cs java.base/sun.security.action \
  java.base/sun.util.calendar; do
  OPENS="$OPENS --add-opens $p=ALL-UNNAMED"
done
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$(echo /opt/spark/jars/*.jar | tr ' ' ':')"
exec java $OPENS -Xmx${SPARK_DRIVER_MEM:-8g} -cp "$CP" "$@"
