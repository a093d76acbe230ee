#!/bin/bash
# Raw-JVM launcher for graft mains (Bench/Verify/ad-hoc) against this
# checkout's ALREADY-COMPILED classes — no sbt lock, no sbt startup. Mirrors
# build.sbt's forked-run JVM options (JDK-17 add-opens, UTC, 32g).
#   tools/jrun.sh <mainClass> [args...]
# Env: SPARK_DRIVER_MEM overrides -Xmx (default 32g), JAVA_EXTRA adds
# system properties (e.g. JAVA_EXTRA=-Dgraft.pin.sf=sf0.1).
set -e
ROOT="$(cd "$(dirname "$0")/.." && pwd)"
CP="$ROOT/target/scala-2.13/classes:$ROOT/src/main/resources:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -Dspark.sql.warehouse.dir="$ROOT/target/warehouse" \
  -Xmx"${SPARK_DRIVER_MEM:-32g}" \
  $JAVA_EXTRA \
  -cp "$CP" "$@"
