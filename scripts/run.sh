#!/bin/bash
# Direct-JVM runner for the dev mains (Bench / Verify / StateProbe /
# ScaleFixture / DeltaLshCycle) against the sbt-compiled classes — each
# isolated fresh-JVM measurement would otherwise pay ~20-30 s of sbt
# launch, which pollutes exactly the numbers the isolation protocol
# exists to clean up. Classpath = compiled classes + the image's Spark
# jars (which ship scala-library 2.13). Mirrors build.sbt's javaOptions.
# Usage: scripts/run.sh graft.Bench [args...]   (env vars pass through)
set -e
cd "$(dirname "$0")/.."
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# JAVA_OPTS_EXTRA: additional -D flags (e.g. a state-store provider
# override for a StateProbe run) — SparkConf picks up spark.* sysprops.
exec java $ADD_OPENS $JAVA_OPTS_EXTRA \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" "$@"
