#!/bin/bash
# Run a graft main OUTSIDE sbt from a snapshot of the compiled classes:
# keeps the build free for other work and gives fresh-JVM timings.
# test-classes join the classpath when present, so graft.tools.* mains
# (Probe and the demos) run the same way as graft.Bench or graft.Verify.
# Usage: tools/run_snap.sh [-Dsys.prop=... | -XX:jvm-option]* <fully.qualified.Main> [args...]
# Env: SNAP_HEAP (default 8g), plus the main's own SPARK_GRAFT_* knobs.
# Leading -D and -XX: options go to the JVM, before the main class. A
# -Dspark.* property becomes a Spark conf, so two runs differing in one
# -Dspark.k=v are a conf A/B; -XX:StartFlightRecording=... records a JFR.
set -euo pipefail
JVM_OPTS=()
while [[ "${1:-}" == -D* || "${1:-}" == -XX:* ]]; do JVM_OPTS+=("$1"); shift; done
if [[ $# -eq 0 || "$1" == -* ]]; then
  echo "usage: $0 [-Dprop=v | -XX:opt]* <fully.qualified.Main> [args...]" >&2
  exit 2
fi
MAIN="$1"; shift
cd "$(dirname "$0")/.."
SNAP=/tmp/graft_snap
mkdir -p "$SNAP"
rm -rf "$SNAP/classes" "$SNAP/test-classes"
cp -r target/scala-2.13/classes "$SNAP/classes"
if [[ -d target/scala-2.13/test-classes ]]; then
  cp -r target/scala-2.13/test-classes "$SNAP/test-classes"
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java -Xmx"${SNAP_HEAP:-8g}" $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "${JVM_OPTS[@]}" \
  -cp "/opt/spark/jars/*:$SNAP/classes:$SNAP/test-classes" \
  "$MAIN" "$@"
