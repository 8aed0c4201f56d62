#!/usr/bin/env bash
# Run a graft main class outside sbt (same module flags and heap that
# build.sbt forks with; graft.Session sets the Spark config):
# tools/run.sh <MainClass> [args...]
# e.g. tools/run.sh graft.ScaleUp /root/testdata/sf0.1 data/sf10 100
set -euo pipefail
cd "$(dirname "$0")/.."
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
