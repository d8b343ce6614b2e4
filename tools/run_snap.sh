#!/bin/bash
# Run a graft main OUTSIDE sbt from a snapshot of the compiled classes:
# keeps the build free for other work and gives fresh-JVM timings.
# test-classes join the classpath when present, so graft.tools.* mains
# (rehearsals, Probe) run the same way as graft.Bench or graft.Verify.
# Usage: tools/run_snap.sh [-Dsys.prop=...]* <fully.qualified.Main> [args...]
# Env: SNAP_HEAP (default 8g), plus the main's own SPARK_GRAFT_* knobs.
# Long rehearsals: SNAP_HEAP=48g tools/run_snap.sh \
#   -Dspark.driver.maxResultSize=12g graft.tools.ScaleRehearsal100x ...
set -euo pipefail
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
PROPS=()
while [[ "${1:-}" == -D* ]]; do PROPS+=("$1"); shift; done
MAIN="$1"; shift
exec java -Xmx"${SNAP_HEAP:-8g}" $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  "${PROPS[@]}" \
  -cp "/opt/spark/jars/*:$SNAP/classes:$SNAP/test-classes" \
  "$MAIN" "$@"
