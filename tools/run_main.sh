#!/usr/bin/env bash
# Run a graft main with plain `java` (no sbt), so long evidence runs
# (sf0.1 Verify replay, recall sweeps) don't serialize behind the sbt
# edit loop. Compile first (`sbt compile`); this uses the classes dir.
#
# Usage: tools/run_main.sh <mainClass> [args...]
# GRAFT_SNAPSHOT=1 copies the classes dir to a pid-scoped /tmp
# snapshot first, so a parallel `sbt compile` can no longer corrupt a
# long-running forked JVM mid-run (the round-15 incident: lazy class
# loading from a shared target/ dir). GRAFT_CLASSES overrides the
# classpath dir outright (e.g. to reuse one snapshot across runs).
set -euo pipefail
cd "$(dirname "$0")/.."
CLASSES="${GRAFT_CLASSES:-target/scala-2.13/classes}"
if [ "${GRAFT_SNAPSHOT:-0}" = "1" ]; then
  SNAP="/tmp/graft_classes_$$"
  rm -rf "$SNAP"
  cp -a "$CLASSES" "$SNAP"
  CLASSES="$SNAP"
  trap 'rm -rf "$SNAP"' EXIT
fi
CMD=(java)
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  CMD+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
CMD+=(-Dspark.ui.enabled=false
  -Dspark.sql.session.timeZone=UTC
  -Xmx"${SPARK_DRIVER_MEM:-24g}"
  -cp "$CLASSES:/opt/spark/jars/*" "$@")
# no `exec` in snapshot mode — the EXIT trap must run to remove the
# snapshot dir
if [ "${GRAFT_SNAPSHOT:-0}" = "1" ]; then
  "${CMD[@]}"
else
  exec "${CMD[@]}"
fi
