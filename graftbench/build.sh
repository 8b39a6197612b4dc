#!/bin/bash
# Builds the engine (the repository's src/main/scala) together with the
# benchmark harness (graftbench/src) into graftbench/build/classes, using
# the Scala compiler that ships with the Spark jars. Skips the compile when
# the sources are unchanged since the last build (stamp = source digest).
#
# Usage: graftbench/build.sh <spark-jars-dir>   (from any directory; run.py
# passes the directory build.sbt's unmanagedBase names)
set -euo pipefail
here="$(cd "$(dirname "$0")" && pwd)"
root="$(dirname "$here")"
jars="$1"
out="$here/build"
engine_src="$root/src/main/scala"

if [ ! -d "$engine_src" ]; then
  echo "build.sh: engine sources not found at $engine_src" >&2
  exit 2
fi
if ! ls "$jars"/scala-compiler-*.jar >/dev/null 2>&1; then
  echo "build.sh: no Scala compiler among the Spark jars in $jars" >&2
  exit 2
fi

mapfile -t sources < <(find "$engine_src" "$here/src" -name '*.scala' | LC_ALL=C sort)
stamp="$(cat "${sources[@]}" | sha256sum | cut -d' ' -f1)"
if [ -f "$out/stamp" ] && [ "$(cat "$out/stamp")" = "$stamp" ]; then
  exit 0
fi

rm -rf "$out"
mkdir -p "$out/classes"
echo "build.sh: compiling ${#sources[@]} sources" >&2
java -Xmx3g -Xss8m -cp "$jars/*" scala.tools.nsc.Main \
  -nowarn -release 17 -d "$out/classes" -classpath "$jars/*" "${sources[@]}"
echo "$stamp" > "$out/stamp"
