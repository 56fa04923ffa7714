#!/usr/bin/env bash
# Run graft.Bench (or another graft main) from a CLASS SNAPSHOT with a
# plain JVM — no sbt lock, no sbt-side noise in the capture, and a
# concurrent `sbt compile` can never swap class files under a running
# measurement (the r18 protocol for canary + scale runs).
#
# Usage:
#   tools/run_bench.sh SF_DIR OUT.json [HEAP=8g] [MAIN=graft.Bench] [args...]
# SF_DIR reaches Bench as SPARK_GRAFT_SF_DIR; a main that takes the data
# dir as an argument gets it in [args...], e.g. graft.Inspect:
#   tools/run_bench.sh SF_DIR OUT.txt 8g graft.Inspect SF_DIR --runs 2 key...
# Env passthrough: SPARK_GRAFT_* (unset SPARK_GRAFT_CPUS leaves the width
# to graft.GraftSession.cpus), plus SNAPSHOT=dir to reuse an existing
# snapshot.
set -euo pipefail
SF_DIR=$1; OUT=$2; HEAP=${3:-8g}; MAIN=${4:-graft.Bench}; shift $(( $# > 4 ? 4 : $# ))
REPO=$(cd "$(dirname "$0")/.." && pwd)
SNAP=${SNAPSHOT:-/tmp/graft_bench_classes}
if [ ! -d "$SNAP" ] || [ -z "${SNAPSHOT:-}" ]; then
  rm -rf "$SNAP"
  cp -r "$REPO/target/scala-2.13/classes" "$SNAP"
fi
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SF_DIR="$SF_DIR" \
java -Xmx"$HEAP" $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$SNAP:/opt/spark/jars/*" "$MAIN" "$@" > "$OUT" 2> "${OUT%.json}.log"
echo "done: $OUT ($(wc -c < "$OUT") bytes)"
