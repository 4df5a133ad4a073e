#!/usr/bin/env bash
# Builds the benchmark: compiles the engine's sources (src/main/scala of the
# repository) together with the harness (perfbench/src) into
# perfbench/.build/classes, with the Scala compiler that ships among the
# Spark jars. Skips the compile when no source changed since the last build.
#
#   bash perfbench/build.sh
set -euo pipefail

here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
root="$(dirname "$here")"
[ -n "${SPARK_HOME:-}" ] || { echo "build: SPARK_HOME is not set" >&2; exit 2; }
jars="$SPARK_HOME/jars"
out="$here/.build"

for d in "$root/src/main/scala" "$root/src/main/resources" "$here/src" "$jars"; do
  [ -d "$d" ] || { echo "build: missing $d" >&2; exit 2; }
done

mkdir -p "$out"
find "$root/src/main/scala" "$here/src" -name '*.scala' | LC_ALL=C sort > "$out/sources.txt"
stamp="$( { cat "$out/sources.txt"; xargs cat < "$out/sources.txt";
  find "$root/src/main/resources" -type f | LC_ALL=C sort | xargs cat;
  ls "$jars"; } | sha1sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi

rm -rf "$out/classes" "$out/stamp"
mkdir -p "$out/classes"
java -Xmx2g -Xss16m -XX:-UsePerfData -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -classpath "$jars/*" -d "$out/classes" @"$out/sources.txt"
cp -r "$root/src/main/resources/." "$out/classes/"
echo "$stamp" > "$out/stamp"
