#!/usr/bin/env bash
# End-to-end CLI proof: run the SHIPPED example plans through the real
# graft.RunPlan main (the spark-submit entry point, not a test fixture)
# against real sf0.1 testdata, and assert the documented exit codes:
#   corpus_qc_plan.json  -> 0 (all gates pass on the bundled corpus)
#   orders_qc_plan.json  -> 3 (the 450k bound rule fails BY DESIGN)
# Also asserts the JSON reports actually land in --report-dest and that
# the session runs on the master passed as -Dspark.master.
#
# Usage: tools/e2e_plan.sh [sfdir]   (default /root/testdata/sf0.1)
# Requires `sbt compile` to have produced target/scala-2.13/classes.
set -u
cd "$(dirname "$0")/.."

SFDIR="${1:-/root/testdata/sf0.1}"
DEST="$(mktemp -d /tmp/graft_e2e.XXXXXX)"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
MASTER="local[8]"
JAVA_ARGS="$OPENS -Xmx8g -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC -Dspark.master=$MASTER \
  -Dspark.sql.shuffle.partitions=8"

mkdir -p "$DEST/logs" "$DEST/reports"

run_plan() { # plan expected_exit report_key
  local plan="$1" want="$2" key="$3"
  # Logs live OUTSIDE --report-dest: a log file matching the key must
  # never satisfy the report-presence check below.
  java $JAVA_ARGS -cp "$CP" graft.RunPlan "examples/$plan" \
    --var "sfdir=$SFDIR" --report-key "$key" \
    --report-dest "$DEST/reports" >"$DEST/logs/$key.log" 2>&1
  local got=$?
  if [ "$got" -ne "$want" ]; then
    echo "FAIL $plan: exit $got, expected $want (log: $DEST/logs/$key.log)"
    tail -5 "$DEST/logs/$key.log"
    return 1
  fi
  # The -Dspark.master above must reach the session: a master set on
  # the builder would silently override it (and spark-submit's --master).
  if ! grep -qxF "graft.RunPlan: master $MASTER" "$DEST/logs/$key.log"; then
    echo "FAIL $plan: effective master is not $MASTER:" \
      "$(grep -F 'graft.RunPlan: master' "$DEST/logs/$key.log")"
    return 1
  fi
  if ! ls "$DEST/reports"/*"$key"* >/dev/null 2>&1; then
    echo "FAIL $plan: no report written under $DEST/reports for key $key"
    return 1
  fi
  echo "OK   $plan: exit $got, master $MASTER, report present"
}

fails=0
run_plan corpus_qc_plan.json 0 corpus_qc || fails=$((fails+1))
run_plan orders_qc_plan.json 3 orders_qc || fails=$((fails+1))
run_plan corpus_refresh_plan.json 0 corpus_refresh || fails=$((fails+1))

if [ "$fails" -eq 0 ]; then
  echo "e2e plan CLI: all green ($SFDIR)"
else
  echo "e2e plan CLI: $fails failure(s)"
fi
exit "$fails"
