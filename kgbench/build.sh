#!/usr/bin/env bash
# Build file of the benchmark: compiles the library sources
# (src/main/scala) together with the benchmark sources (kgbench/src) into
# .bench_build/classes with the Scala compiler that ships with Spark.
# Run from the repository root: bash kgbench/build.sh <spark jars dir>
set -euo pipefail
jars="$1"
out=.bench_build/classes
if [ ! -d src/main/scala ]; then
  echo "build: src/main/scala not found; run from the repository root" >&2
  exit 2
fi
compiler=$(ls "$jars"/scala-compiler-2.13.*.jar | head -n 1)
library=$(ls "$jars"/scala-library-2.13.*.jar | head -n 1)
reflect=$(ls "$jars"/scala-reflect-2.13.*.jar | head -n 1)
mkdir -p .bench_build
rm -rf "$out.tmp"
mkdir -p "$out.tmp"
find src/main/scala kgbench/src -name '*.scala' | sort > .bench_build/sources.txt
mkdir -p .bench_build/tmp
java -Xss8m -Xmx2g -XX:-UsePerfData -Djava.io.tmpdir=.bench_build/tmp -cp "$compiler:$library:$reflect" \
  scala.tools.nsc.Main -nowarn -classpath "$jars/*" -d "$out.tmp" \
  @.bench_build/sources.txt
rm -rf "$out"
mv "$out.tmp" "$out"
