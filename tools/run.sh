#!/bin/bash
# Fast runner for harness mains without sbt startup cost.
# Usage: tools/run.sh graft.Verify /root/testdata/sf0.001 /tmp/v001
#        SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 tools/run.sh graft.Bench
# The checkout this script sits in, so a second checkout (a worktree, an
# A/B copy) runs its own classes; the Spark jars are the ones build.sbt
# compiles against (its unmanagedBase), else $SPARK_HOME/jars.
REPO="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$REPO/build.sbt")"
JARS="${JARS:-$SPARK_HOME/jars}"
ADDOPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADDOPENS="$ADDOPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# 512m code cache: 150+ codegen'd queries in one JVM overflow the
# 240m default; once the JIT code cache fills, late queries run
# interpreted (measured: same fmt_* query 14 s in-bench vs 0.7 s solo)
exec java $ADDOPENS \
  -Xmx"${SPARK_DRIVER_MEM:-24g}" \
  -XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$REPO/target/scala-2.13/classes:$JARS/*" "$@"
