#!/usr/bin/env bash
# Compiles the engine (src/main) together with the benchmark
# (perfbench/src) into <out>/classes with the Scala compiler that ships
# in the Spark distribution's jars, so no build tool or network is needed.
# Skips the compile when the sources have not changed since the last one.
#
#   bash perfbench/build.sh <out>
set -euo pipefail
root=$(cd "$(dirname "$0")/.." && pwd)
out=${1:?usage: build.sh <out>}
if [ ! -d "$root/src/main/scala" ]; then
  echo "build.sh: no engine sources at src/main/scala" >&2
  exit 1
fi
if [ -z "${SPARK_HOME:-}" ]; then
  submit=$(command -v spark-submit || true)
  [ -n "$submit" ] || { echo "build.sh: set SPARK_HOME" >&2; exit 1; }
  SPARK_HOME=$(cd "$(dirname "$(readlink -f "$submit")")/.." && pwd)
fi
jars="$SPARK_HOME/jars"
ls "$jars"/scala-compiler-*.jar >/dev/null

sources=$(cd "$root" && find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)
stamp=$(cd "$root" && { ls "$jars"; cat $sources; find src/main/resources -type f | LC_ALL=C sort | xargs cat; } | sha256sum | cut -d' ' -f1)
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/stamp"
mkdir -p "$out/classes"
(cd "$root" && java -Xss8m -Xmx2g -cp "$jars/*" scala.tools.nsc.Main -nowarn \
  -classpath "$jars/*" -d "$out/classes" $sources)
cp -r "$root/src/main/resources/." "$out/classes/"
echo "$stamp" > "$out/stamp"
