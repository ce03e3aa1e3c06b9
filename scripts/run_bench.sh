#!/usr/bin/env bash
# Run graft.Bench directly on the compiled classes (no sbt, so no sbt
# log prefixes on stdout — the summary JSON line is the literal last
# stdout line):
#   scripts/run_bench.sh [queryName ...]
# Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
#      SPARK_GRAFT_CPUS (threads AND shuffle.partitions, default 4),
#      SPARK_DRIVER_MEM (default 16g).
# With a query filter, the first queries of the cold pass also pay the
# JVM's and JIT's warm-up (q241: 5.43 s cold alone, 2.27 s as the 10th
# of 12 queries, sf0.1, 4 cores). A per-query A/B compares a query at the
# same position in the same query group on both sides.
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
