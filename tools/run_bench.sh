#!/bin/bash
# Run graft.Bench like the driver (full suite, min-of-2, calibrations).
# Usage: tools/run_bench.sh <outJson> [logFile] [onlyQueries]
#   onlyQueries: comma-separated names -> partial run, merged into the
#   committed artifact (fresh wins; untouched entries survive).
set -e
cd "$(dirname "$0")/.."
OUT=${1:-bench_per_query.json}
LOG=${2:-/tmp/bench_run.log}
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Heap: half of RAM clamped to 2-8 g (the test suite's driver-memory
# formula); cores: all of this host's unless SPARK_GRAFT_CPUS is set.
HEAP=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  /proc/meminfo 2>/dev/null || echo 2g)
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} \
SPARK_GRAFT_BENCH_OUT="$OUT" \
exec java $ADD_OPENS -Xmx"$HEAP" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Bench ${3:+"$3"} 2>"$LOG"
