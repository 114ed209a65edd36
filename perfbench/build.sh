#!/bin/bash
# Compiles the program (src/main) and the benchmark harness with the Scala
# compiler that ships among Spark's jars, so no build tool or network is
# needed. Run from the repository root:
#   perfbench/build.sh <out-dir> <spark-jars-dir>
# Leaves <out-dir>/classes, <out-dir>/harness and, last, <out-dir>/done.
set -euo pipefail
out=$1
jars=$2
scalac() { java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn "$@"; }
rm -rf "$out"
mkdir -p "$out/classes" "$out/harness"
find src/main/scala -name '*.scala' > "$out/sources.txt"
scalac -d "$out/classes" -cp "$jars/*" @"$out/sources.txt"
cp -r src/main/resources/. "$out/classes/"
scalac -d "$out/harness" -cp "$out/classes:$jars/*" perfbench/harness/*.scala
touch "$out/done"
