#!/bin/bash
# Dev loop: compile, run graft.Verify on a scale factor, diff vs DuckDB.
# Usage: tools/verify.sh [sf0.01] [outdir]
set -e
cd "$(dirname "$0")/.."
SF=${1:-sf0.01}
OUT=${2:-/tmp/verify_$SF}
# the gate line names the tree that was built: a sha with uncommitted
# changes outside the gate log itself is marked -dirty
SHA=$(git rev-parse --short HEAD)
if [ -n "$(git status --porcelain -- . ':!docs/verify')" ]; then
  SHA="$SHA-dirty"
fi
sbt -batch -error package
ADD_OPENS="--add-opens=java.base/java.lang=ALL-UNNAMED --add-opens=java.base/java.lang.invoke=ALL-UNNAMED --add-opens=java.base/java.lang.reflect=ALL-UNNAMED --add-opens=java.base/java.io=ALL-UNNAMED --add-opens=java.base/java.net=ALL-UNNAMED --add-opens=java.base/java.nio=ALL-UNNAMED --add-opens=java.base/java.util=ALL-UNNAMED --add-opens=java.base/java.util.concurrent=ALL-UNNAMED --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens=java.base/sun.nio.ch=ALL-UNNAMED --add-opens=java.base/sun.nio.cs=ALL-UNNAMED --add-opens=java.base/sun.security.action=ALL-UNNAMED --add-opens=java.base/sun.util.calendar=ALL-UNNAMED"
rm -rf "$OUT"
T0=$(date +%s)
java $ADD_OPENS -Xmx8g -XX:ReservedCodeCacheSize=512m \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "target/scala-2.13/obadiahspark_2.13-0.1.0.jar:/opt/spark/jars/*" \
  graft.Verify "/root/testdata/$SF" "$OUT" ${3:+"$3"}
T1=$(date +%s)
# self-evidencing gate log: the driver's correctness capture has come
# back empty twice (r08, r12) — append every full-suite check summary
# to a committed artifact so the repo itself records the gate result
set -o pipefail
CHECK_LOG=$(mktemp)
RC=0
python3 tools/check.py "$OUT" "/root/testdata/$SF" | tee "$CHECK_LOG" || RC=$?
T2=$(date +%s)
if [ -z "${3:-}" ]; then
  mkdir -p docs/verify
  SUMMARY=$(grep -E '^== .* ==$' "$CHECK_LOG" | tail -1)
  echo "$(date -u +%Y-%m-%dT%H:%M:%SZ) sha=$SHA sf=$SF $SUMMARY verify_wall_s=$((T1 - T0)) check_wall_s=$((T2 - T1))" >> docs/verify/gate_log.txt
fi
rm -f "$CHECK_LOG"
exit $RC
