#!/bin/bash
# Isolated per-query bench: tools/qbench.sh <comma-separated-query-names> [reps]
# Runs graft.Bench with SPARK_GRAFT_ISOLATE=1 and a query filter, using the
# same JVM options as the sbt fork (build.sbt), printing the per-query
# best-of-2 map once per invocation. Warmup at sf0.001 stays ON so the
# numbers are steady-state (JIT/codegen warm), matching the in-suite regime.
set -e
# Each rep's Bench stderr goes to /tmp/qbench_err_<rep>.log, so a failing rep
# keeps its own diagnostics; a rep with no queries line stops the script
# before the python stage, with only the error message as output.
ONLY="$1"
REPS="${2:-2}"
SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
for i in $(seq 1 "$REPS"); do
  ERR="/tmp/qbench_err_$i.log"
  LINE=$(SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
    SPARK_GRAFT_ISOLATE=1 SPARK_GRAFT_ONLY="$ONLY" \
    SPARK_GRAFT_BENCH_OUT=/tmp/qbench_out.json \
    java -cp "target/scala-2.13/classes:/opt/spark/jars/*" -Xmx8g \
      -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
      $ADD_OPENS graft.Bench 2>"$ERR" | grep '"queries"' || true)
  if [ -z "$LINE" ]; then
    echo "qbench: no queries line from Bench in rep $i (see $ERR)" >&2
    exit 1
  fi
  printf '%s\n' "$LINE" | python3 -c 'import json,sys
d=json.loads(sys.stdin.read())
for k,v in d["queries"].items(): print(f"{v:8.3f}  {k}")
a=d["calibration_mc_pre"]; b=d["calibration_mc_post"]
print(f"   [mc {a:.2f}/{b:.2f}]")'
done
