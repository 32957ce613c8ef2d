#!/bin/bash
# Dev-only bench launcher: runs graft.Bench with the java-direct
# classpath (no sbt startup), mirroring tools/check.py's recipe.
# Usage: tools/bench.sh <sfdir> [reps] [only-csv]
set -e
REPO="$(cd "$(dirname "$0")/.." && pwd)"
SF="${1:-/root/testdata/sf0.1}"
REPS="${2:-3}"
ONLY="${3:-}"
CP="$REPO/target/scala-2.13/classes:$(ls /opt/spark/jars/*.jar | tr '\n' ':')"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# Heap: the Tier-1 rule (as perfbench/run.py computes it) — half of
# physical memory, clamped to 2..8 GB.
HEAP="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  /proc/meminfo 2>/dev/null || echo 2g)"
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_REPS="$REPS" SPARK_GRAFT_ONLY="$ONLY" \
  java $OPENS -Xmx$HEAP -cp "$CP" graft.Bench
