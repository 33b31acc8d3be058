#!/usr/bin/env bash
# Run a graft main (ScaleProbe / Bench / Verify) straight from the compiled
# classes, bypassing sbt — so long probes can run in the background without
# holding the sbt project lock (`sbt -batch compile` first). Mirrors the
# JDK17 --add-opens set and JVM sizing from build.sbt.
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS=(java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect
  java.base/java.io java.base/java.net java.base/java.nio java.base/java.util
  java.base/java.util.concurrent java.base/java.util.concurrent.atomic
  java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action
  java.base/sun.util.calendar)
JOPTS=()
for p in "${OPENS[@]}"; do JOPTS+=(--add-opens "$p=ALL-UNNAMED"); done
# (UI off and the UTC time zone come from graft.SessionProfile.)
# ExitOnOutOfMemoryError: a main that exhausts its heap exits at once
# (code 3) instead of lingering after Spark stops its context.
exec java "${JOPTS[@]}" "-Xmx${SPARK_DRIVER_MEM:-24g}" \
  -XX:+ExitOnOutOfMemoryError \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
