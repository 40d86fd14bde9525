#!/usr/bin/env bash
# Builds the benchmark runner together with the engine's main sources
# into <out>/classes, using the Scala compiler that ships with Spark.
# Skips the compile when no source changed since the last build.
#
#   bash perfbench/build.sh <out_dir>      (run from the repository root)
set -euo pipefail
out="${1:?usage: build.sh <out_dir>}"
[ -d src/main/scala/graft ] || { echo "build.sh: no engine sources under src/main/scala" >&2; exit 2; }
# Spark comes from $SPARK_HOME, else from the first spark-submit on PATH
# that sits in a Spark distribution; run.py reads the choice back.
spark_home=""
for cand in "${SPARK_HOME:-}" $(type -ap spark-submit | while read -r s; do
    dirname "$(dirname "$(readlink -f "$s")")"; done); do
  if [ -n "$cand" ] && compgen -G "$cand/jars/spark-core_*.jar" > /dev/null; then
    spark_home="$cand"; break
  fi
done
[ -n "$spark_home" ] || { echo "build.sh: no Spark distribution (set SPARK_HOME)" >&2; exit 2; }
mkdir -p "$out"
echo "$spark_home" > "$out/spark_home"
mapfile -t srcs < <(find src/main/scala perfbench/src -name '*.scala' | LC_ALL=C sort)
stamp="$(cat "${srcs[@]}" perfbench/build.sh | sha256sum | cut -c1-16)"
if [ -f "$out/classes.stamp" ] && [ "$(cat "$out/classes.stamp")" = "$stamp" ]; then
  exit 0
fi
rm -rf "$out/classes" "$out/classes.stamp"
mkdir -p "$out/classes"
java -XX:-UsePerfData -Xmx2g -Xss8m -cp "$spark_home/jars/*" scala.tools.nsc.Main \
  -nowarn -deprecation:false -d "$out/classes" -classpath "$spark_home/jars/*" "${srcs[@]}" >&2
echo "$stamp" > "$out/classes.stamp"
