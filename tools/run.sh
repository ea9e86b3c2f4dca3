#!/bin/bash
# Run a graft main class against the compiled classes + Spark jars without
# sbt overhead. Usage: tools/run.sh graft.Verify <sfDir> <outDir>
set -e
# the classes of the checkout this script lives in, wherever it is run from
CLASSES="$(cd "$(dirname "$0")/.." && pwd)/target/scala-2.13/classes"
# scala-library ships inside /opt/spark/jars — adding another copy (e.g. the
# sbt boot one) causes NoSuchMethodError on minor-version mismatch.
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx${SPARK_DRIVER_MEM:-8g} \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
