#!/bin/bash
# Fast local runner: package the jar once, run a graft main class directly
# against the /opt/spark/jars classpath (avoids sbt JVM startup per run).
#   tools/run.sh graft.Verify /root/testdata/sf0.01 /tmp/verify_out
#   SPARK_GRAFT_SF_DIR=... tools/run.sh graft.Bench
set -e
cd "$(dirname "$0")/.."
JAR=target/scala-2.13/skiliopaydatapipelinecustomerspark_2.13-0.1.0.jar
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# ReservedCodeCacheSize=1g: JDK 17 defaults to 240 MB, and a 226-query
# session compiles enough whole-stage-codegen classes to churn it —
# the adjudicated mechanism behind the r11/r12 phantom bench swings
# (q201 +10 s in the driver record on identical code). 1 GiB holds the
# full suite's JIT output without flushing (VERDICT r12 task 2).
exec java $ADD_OPENS -Xmx${SPARK_DRIVER_MEM:-16g} \
  -XX:ReservedCodeCacheSize=1g \
  -cp "$JAR:/opt/spark/jars/*" "$@"
