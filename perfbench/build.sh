#!/bin/bash
# Build file of the benchmark: compiles graft (src/main/scala) together
# with the benchmark harness (perfbench/harness) into .bench_build/classes,
# using the Scala compiler that ships among Spark's jars. A stamp of the
# sources skips the compile when nothing changed.
#
# Usage, from the repository root:  bash perfbench/build.sh
set -euo pipefail
# Spark's jars: $SPARK_HOME/jars, else the directory build.sbt declares as
# unmanagedBase; recorded for run.py
jars="${SPARK_HOME:+$SPARK_HOME/jars}"
[ -n "$jars" ] || jars=$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' build.sbt)
[ -d "$jars" ] || { echo "Spark jars not found (set SPARK_HOME)" >&2; exit 1; }
mkdir -p .bench_build
echo "$jars" > .bench_build/spark-jars
out=.bench_build/classes
mapfile -t srcs < <(find src/main/scala perfbench/harness -name '*.scala' | sort)
[ "${#srcs[@]}" -gt 0 ] || { echo "no Scala sources under src/main/scala" >&2; exit 1; }
stamp=$(sha256sum "${srcs[@]}" src/main/resources/* | sha256sum | cut -c1-32)
if [ -f "$out/.stamp" ] && [ "$(cat "$out/.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out"
mkdir -p "$out"
java -Xmx3g -Xss8m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -d "$out" -classpath "$jars/*" "${srcs[@]}"
cp -r src/main/resources/. "$out/"
echo "$stamp" > "$out/.stamp"
