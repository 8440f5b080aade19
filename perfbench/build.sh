#!/usr/bin/env bash
# Builds the engine (src/main/scala) together with the benchmark harness
# (perfbench/src) into <build dir>/classes, using the Scala compiler that
# ships in Spark's own jars, so no build tool or download is needed.
#
# Usage: perfbench/build.sh SPARK_JARS_DIR [BUILD_DIR]   (run from the repo root)
#
# The engine hard-codes absolute scratch directories ending in
# "/target/tmp/" (index snapshots, streaming landing dirs, parquet
# round trips). The compiled copy resolves them against the working
# directory instead, so each benchmark run writes only inside its own run
# directory and no two runs share a fixed-name scratch dir. Nothing else
# in the engine sources is changed.
#
# A stamp over every input skips the compile when nothing changed.
set -euo pipefail
JARS="${1:?usage: build.sh SPARK_JARS_DIR [BUILD_DIR]}"
OUT="${2:-.bench_build}"
[ -d src/main/scala ] || { echo "build.sh: no engine sources under src/main/scala" >&2; exit 2; }
[ -f "$JARS/scala-compiler-2.13.17.jar" ] || ls "$JARS"/scala-compiler-2.13*.jar >/dev/null 2>&1 \
  || { echo "build.sh: no Scala 2.13 compiler in $JARS" >&2; exit 2; }

stamp=$( { find src/main/scala perfbench/src -name '*.scala' -type f | LC_ALL=C sort \
  | xargs sha256sum; sha256sum perfbench/build.sh; } | sha256sum | cut -d' ' -f1)
if [ -f "$OUT/stamp" ] && [ "$(cat "$OUT/stamp")" = "$stamp" ] && [ -d "$OUT/classes" ]; then
  exit 0
fi

rm -rf "$OUT/src" "$OUT/classes" "$OUT/classes.tmp" "$OUT/stamp"
mkdir -p "$OUT/src" "$OUT/classes.tmp"
cp -R src/main/scala "$OUT/src/engine"
find "$OUT/src/engine" -name '*.scala' -type f -exec \
  sed -i -E 's#"/[A-Za-z0-9_.-]+(/[A-Za-z0-9_.-]+)*/target/tmp/#"target/tmp/#g' {} +

find "$OUT/src/engine" perfbench/src -name '*.scala' -type f > "$OUT/sources.txt"
java -Xmx2g -Xss8m -cp "$JARS/*" scala.tools.nsc.Main \
  -nowarn -classpath "$JARS/*" -d "$OUT/classes.tmp" "@$OUT/sources.txt"
mv "$OUT/classes.tmp" "$OUT/classes"
echo "$stamp" > "$OUT/stamp"
