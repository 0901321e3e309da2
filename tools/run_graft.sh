#!/bin/bash
# Direct-JVM runner for graft mains (Bench / Verify / ProfileQuery /
# ExplainDump / GenScale / GenZipf): same JVM options as build.sbt's
# forked run, without the ~90 s sbt startup per invocation. It runs from
# the checkout root, where the gates resolve their fixtures.
# Session confs live in graft.GraftSession, not here. Usage:
#   tools/run_graft.sh graft.Bench [args...]
# Env contract identical to the sbt path (SPARK_GRAFT_*; SPARK_DRIVER_MEM
# overrides the heap, which defaults to half of RAM clamped to 2-8 GiB).
# Requires a prior `sbt -batch compile` (classes under
# target/scala-2.13/classes).
set -euo pipefail
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)}
  END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null \
  || echo 2g)"
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-$HEAP}" -XX:ReservedCodeCacheSize=512m \
  ${SPARK_GRAFT_JAVA_OPTS:-} \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
