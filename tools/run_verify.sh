#!/bin/bash
# Run graft.Verify (or another main) against the compiled classes without
# sbt JVM startup overhead. Usage: tools/run_verify.sh [main] [args...]
set -e
cd "$(dirname "$0")/.."
MAIN="${1:-graft.Verify}"; shift || true
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# RAM-backed shuffle/spill dir when available — this box's virtual disk
# charges ~100-400 ms per map task to commit shuffle files (see
# build.sbt javaOptions note). SPARK_LOCAL_DIRS still wins if set.
if [ -w /dev/shm ]; then LOCAL_DIR=/dev/shm/graft_spark_local; else LOCAL_DIR="${TMPDIR:-/tmp}"; fi
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -Dspark.local.dir="$LOCAL_DIR" \
  -Dspark.shuffle.sort.bypassMergeThreshold=1 \
  -cp "/opt/spark/jars/*:target/scala-2.13/classes" \
  "$MAIN" "$@"
