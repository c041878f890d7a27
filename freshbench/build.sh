#!/usr/bin/env bash
# Build the extractor (src/main/scala) and the benchmark harness
# (freshbench/scala) into .bench_build/classes with the Scala compiler
# that ships in the Spark distribution. Run from the repository root.
# Skips the compile when the sources hash to the stamp of the last build.
# Prints the Spark jar directory (the runtime classpath) on stdout.
set -euo pipefail

[ -d src/main/scala ] && [ -d freshbench/scala ] && [ -f build.sbt ] || {
  echo "build.sh: run from the repository root (src/main/scala missing)" >&2
  exit 2
}

# the Spark distribution: $SPARK_HOME, else the jar directory build.sbt names
jars="${SPARK_HOME:-}/jars"
if [ ! -d "$jars" ]; then
  jars="$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' build.sbt)"
fi
[ -n "$jars" ] && [ -d "$jars" ] || { echo "build.sh: no Spark jars found" >&2; exit 2; }

out=.bench_build/classes
mkdir -p .bench_build
find src/main/scala freshbench/scala -name '*.scala' | LC_ALL=C sort > .bench_build/sources.txt
stamp="$( { xargs sha1sum < .bench_build/sources.txt; echo "$jars"; } | sha1sum | cut -d' ' -f1)"

if [ ! -f "$out/.stamp" ] || [ "$(cat "$out/.stamp")" != "$stamp" ]; then
  rm -rf "$out.tmp"
  mkdir -p "$out.tmp"
  java -Xmx2g -Xss16m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main \
    -nowarn -d "$out.tmp" -classpath "$jars/*" @.bench_build/sources.txt >&2
  echo "$stamp" > "$out.tmp/.stamp"
  rm -rf "$out"
  mv "$out.tmp" "$out"
fi
echo "$jars"
