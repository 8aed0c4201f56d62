#!/usr/bin/env bash
# Build file of the benchmark: compiles the repository's main sources
# (src/main/scala) together with the benchmark's own sources
# (perfbench/src) into one class directory, with the Scala compiler that
# ships in the Spark distribution's jars. No sbt, no network.
#
# Usage: bash perfbench/build.sh <out-classes-dir>   (from the repo root)
# Env:   SPARK_HOME (default /opt/spark)
set -euo pipefail
out="$1"
jars="${SPARK_HOME:-/opt/spark}/jars"
[ -d src/main/scala ] || { echo "build: src/main/scala not found (run from the repo root)" >&2; exit 2; }
[ -d "$jars" ] || { echo "build: Spark jars not found at $jars" >&2; exit 2; }
tmp="$out.tmp.$$"
trap 'rm -rf "$tmp" "$tmp.sources"' EXIT
mkdir -p "$tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$tmp.sources"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -Ybackend-parallelism 4 -d "$tmp" -cp "$jars/*" "@$tmp.sources"
rm -rf "$out"
mv "$tmp" "$out"
