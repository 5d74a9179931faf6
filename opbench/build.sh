#!/bin/sh
# Build file of the benchmark: compiles graft's main sources together
# with the benchmark runner (opbench/scala) into the class directory
# $1, using the Scala compiler among Spark's jars in $2.
# No sbt: the measured JVM is launched with plain `java`.
#
#   sh opbench/build.sh OUT_DIR SPARK_JARS_DIR
set -eu
out=$1
jars=$2
root=$(cd "$(dirname "$0")/.." && pwd)
test -d "$root/src/main/scala" || { echo "no graft sources under $root/src/main/scala" >&2; exit 2; }
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find "$root/src/main/scala" "$root/opbench/scala" -name '*.scala' | sort > "$out.tmp.files"
java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out.tmp" -cp "$jars/*" @"$out.tmp.files"
if [ -d "$root/src/main/resources" ]; then cp -R "$root/src/main/resources/." "$out.tmp/"; fi
rm -rf "$out" "$out.tmp.files"
mv "$out.tmp" "$out"
