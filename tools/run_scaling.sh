#!/bin/bash
# Run graft.Scaling like the builder: amplified ×-factor audit at sf0.1.
# Usage: tools/run_scaling.sh [outPath] [onlyQueries] (env: SPARK_GRAFT_FACTORS)
set -e
cd "$(dirname "$0")/.."
OUT=${1:-SCALING_r9.json}
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
exec java $ADD_OPENS -Xmx"$HEAP" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.Scaling "$OUT" ${2:+"$2"}
