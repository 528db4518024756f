#!/usr/bin/env bash
# Compiles the program's sources (src/main/scala) together with the
# benchmark harness (perfbench/src) into one class directory, against the
# Spark distribution's jars, which also carry the Scala 2.13 compiler.
#
#   bash perfbench/build.sh <out-dir> <spark-jars-dir>   (from the repository root)
set -euo pipefail
out=${1:?usage: build.sh <out-dir> <spark-jars-dir>}
jars=${2:?usage: build.sh <out-dir> <spark-jars-dir>}
[ -d src/main/scala/graft ] || { echo "build.sh: no src/main/scala/graft under $(pwd)" >&2; exit 2; }
[ -f "$jars/scala-compiler-2.13.17.jar" ] || { echo "build.sh: no Scala compiler in $jars" >&2; exit 2; }
rm -rf "$out.partial"
mkdir -p "$out.partial"
find src/main/scala perfbench/src -name '*.scala' | sort > "$out.partial.sources"
java -Xmx2g -Xss8m -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$out.partial" @"$out.partial.sources"
rm -f "$out.partial.sources"
rm -rf "$out"
mv "$out.partial" "$out"
