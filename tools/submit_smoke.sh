#!/usr/bin/env bash
# Packaging-parity smoke: build the library jar with `sbt package` and
# spark-submit the flagship retention job against the sf0.001 fixtures,
# exactly the way a cluster user deploys it (the reference ships the
# same unit via its Makefile's spark-submit targets). The jar is THIN
# on purpose — graft depends only on Spark itself and the JDK, so the
# cluster's Spark distribution provides everything
# (--packages/assembly not needed, and the sandbox has no egress).
#
# Usage: tools/submit_smoke.sh [dataDir]
set -euo pipefail
cd "$(dirname "$0")/.."

DATA_DIR="${1:-/root/testdata/sf0.001}"
SINK="$(mktemp -d)/retention_sink"
LOG="$(mktemp)"

sbt -batch package

JAR="$(ls target/scala-2.13/*.jar | grep -v -- '-tests' | head -1)"
echo "[submit-smoke] jar: $JAR"

/opt/spark/bin/spark-submit \
  --class graft.retention.RetentionJob \
  --master 'local[8]' \
  --conf spark.sql.shuffle.partitions=8 \
  --conf spark.ui.enabled=false \
  --conf spark.sql.session.timeZone=UTC \
  "$JAR" ALL "$DATA_DIR" "$SINK" 10000 2>&1 | tee "$LOG"

# the job prints "PROCESS END: <n> persons"; require n > 0 and a
# readable sink. Take the LAST match only: a retried/duplicated end
# line would otherwise make N multi-line, the numeric test would
# error (treated as false), and the gate would silently pass.
N="$(grep -o 'PROCESS END: [0-9]*' "$LOG" | tail -1 | grep -o '[0-9]*' || true)"
if [ -z "$N" ] || [ "$N" -le 0 ]; then
  echo "[submit-smoke] FAIL: no persons written (log: $LOG)"; exit 1
fi
if ! ls "$SINK"/_bucket=* >/dev/null 2>&1; then
  echo "[submit-smoke] FAIL: sink $SINK has no bucket directories"; exit 1
fi
# a committed upsert leaves no delta/staging/backup dir beside the sink
for d in _graft_delta _graft_stage _graft_backup; do
  if [ -e "${SINK}${d}" ]; then
    echo "[submit-smoke] FAIL: ${SINK}${d} left behind"; exit 1
  fi
done
# one clustered parquet file per bucket (a bucket over the advisory
# partition size would be split; the sf0.001 sink is far below it)
for b in "$SINK"/_bucket=*; do
  n="$(find "$b" -maxdepth 1 -name '*.parquet' | wc -l)"
  if [ "$n" -eq 0 ]; then
    echo "[submit-smoke] FAIL: bucket $b has no parquet file"; exit 1
  fi
  if [ "$n" -gt 1 ]; then
    echo "[submit-smoke] FAIL: bucket $b holds $n parquet files, not one"; exit 1
  fi
done
echo "[submit-smoke] OK: $N persons in $SINK"
