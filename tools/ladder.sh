#!/usr/bin/env bash
# Scale-ladder runner: one isolated JVM per family (the BENCH_scale.json
# protocol — per-family JVMs with cool-down gaps, fragments merged by
# tools/merge_scale.py). Usage:
#   tools/ladder.sh <family> <rungs-csv> [outJson]
# e.g. tools/ladder.sh gr_mst 30,60,100
set -euo pipefail
FAM="$1"; RUNGS="$2"; OUT="${3:-/tmp/frag_${FAM}.json}"
CLS=/root/repo/target/scala-2.13/classes
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
# the ladder protocol runs on 16 cores unless SPARK_GRAFT_CPUS says otherwise
# (graft.Sessions defaults to 4)
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-16}"
SPARK_GRAFT_FAMILIES="$FAM" SPARK_GRAFT_RUNGS="$RUNGS" \
java $ADD_OPENS -Xmx"${SPARK_DRIVER_MEM:-48g}" \
  -cp "$CLS:/opt/spark/jars/*" graft.tools.BenchScale /root/testdata/sf0.1 "$OUT" \
  2>&1 | grep -E "^\[scale\]|Exception|Error" || true
echo "--- fragment: $OUT"
cat "$OUT" 2>/dev/null | head -3
