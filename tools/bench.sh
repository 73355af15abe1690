#!/bin/bash
# Direct-JVM launcher for the bench/duel mains (default graft.Bench;
# pass a main class as $1 to override). Runs the compiled classes
# against /opt/spark/jars without sbt — no target-lock contention with
# a concurrently-open sbt, no sbt JVM as a co-tenant in the measured
# window. Mirrors build.sbt's fork options (JDK17 add-opens,
# SPARK_DRIVER_MEM heap); the session posture (UTC, UI off) comes from
# graft.Runtime.session().
set -euo pipefail
cd "$(dirname "$0")/.."
MAIN="${1:-graft.Bench}"
if [ "$#" -gt 0 ]; then shift; fi
MEM="${SPARK_DRIVER_MEM:-8g}"
exec java -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  -Dio.netty.tryReflectionSetAccessible=true \
  -Xmx"$MEM" \
  "$MAIN" "$@"
