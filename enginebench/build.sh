#!/usr/bin/env bash
# Builds the engine benchmark: compiles the engine's sources (src/main/scala)
# together with the benchmark's own (enginebench/src) into OUT_DIR/classes,
# using the Scala compiler that ships in the Spark distribution's jars.
#
#   bash enginebench/build.sh OUT_DIR
#
# Spark is found through SPARK_HOME, else through spark-submit on PATH.
set -euo pipefail

out="${1:?usage: build.sh OUT_DIR}"
root="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
if [[ -z "${SPARK_HOME:-}" ]]; then
  submit="$(command -v spark-submit)" || { echo "build.sh: set SPARK_HOME" >&2; exit 2; }
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$submit")")")"
fi
jars="$SPARK_HOME/jars"
[[ -d "$root/src/main/scala" ]] || { echo "build.sh: no engine sources under $root/src/main/scala" >&2; exit 2; }

compiler_cp="$(ls "$jars"/scala-compiler-2.13.*.jar "$jars"/scala-library-2.13.*.jar "$jars"/scala-reflect-2.13.*.jar | paste -sd:)"
mapfile -t sources < <(find "$root/src/main/scala" "$root/enginebench/src" -name '*.scala' | sort)

rm -rf "$out/classes.tmp"
mkdir -p "$out/classes.tmp"
java -Xss8m -Xmx2g -cp "$compiler_cp" scala.tools.nsc.Main -nowarn \
  -d "$out/classes.tmp" -cp "$jars/*" "${sources[@]}"
rm -rf "$out/classes"
mv "$out/classes.tmp" "$out/classes"
