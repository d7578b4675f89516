#!/usr/bin/env bash
# Compiles graft (src/main/scala) and the benchmark (perfbench/src) with
# scalac into $1/classes, against the Spark jars in $2. Run from the
# repository root: build.sh <out-dir> <spark-jars-dir>
set -euo pipefail
out="$1"
spark_jars="$2"
[ -d src/main/scala ] || { echo "build: no src/main/scala here" >&2; exit 2; }
[ -d "$spark_jars" ] || { echo "build: no Spark jars at $spark_jars" >&2; exit 2; }
rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
cp="$(printf '%s:' "$spark_jars"/*.jar)"
compiler="$spark_jars/scala-compiler-2.13.17.jar:$spark_jars/scala-library-2.13.17.jar:$spark_jars/scala-reflect-2.13.17.jar"
find src/main/scala perfbench/src -name '*.scala' > "$out/sources.txt"
java -Xss8m -Xmx2g -cp "$compiler" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -classpath "$cp" "@$out/sources.txt"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
