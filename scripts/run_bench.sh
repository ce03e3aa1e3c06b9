#!/usr/bin/env bash
# Run graft.Bench directly on the compiled classes (no sbt, so no sbt
# log prefixes on stdout — the summary JSON line is the literal last
# stdout line):
#   scripts/run_bench.sh [queryName ...]
# Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
#      SPARK_GRAFT_CPUS (threads AND shuffle.partitions, default 4),
#      SPARK_DRIVER_MEM (default 16g).
set -euo pipefail
cd "$(dirname "$0")/.."
CP="target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-16g}" \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Bench "$@"
