#!/usr/bin/env bash
# Builds the benchmark: compiles graft's main sources together with the
# harness in perfbench/src, using the Scala compiler that ships among
# Spark's jars (no sbt, no network, nothing written outside OUT_DIR).
#
# usage: bash perfbench/build.sh OUT_DIR SPARK_JARS_DIR   (from the repo root)
set -euo pipefail
out="$1"
jars="$2"
mkdir -p "$out"
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out/sources.txt"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -classpath "$jars/*" @"$out/sources.txt"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
