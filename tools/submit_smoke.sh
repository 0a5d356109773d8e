#!/usr/bin/env bash
# Packaging-parity smoke: build the library jar with `sbt package` and
# spark-submit the flagship retention job against the sf0.001 fixtures,
# exactly the way a cluster user deploys it (the reference ships the
# same unit via its Makefile's spark-submit targets). The jar is THIN
# on purpose — graft depends only on Spark itself and the JDK, so the
# cluster's Spark distribution provides everything
# (--packages/assembly not needed, and the sandbox has no egress).
# A second sink takes two tenants in turn, BUILDING then AUTOMOBILE, so
# the second run is an insert-only delivery through KeyedUpsert's
# append path: its rows land in the inbox and no hashed bucket file
# changes.
#
# Usage: tools/submit_smoke.sh [dataDir]
set -euo pipefail
cd "$(dirname "$0")/.."

DATA_DIR="${1:-/root/testdata/sf0.001}"
SINK="$(mktemp -d)/retention_sink"
SINK2="$(mktemp -d)/tenant_sink"
LOG="$(mktemp)"
# the inbox's file bound, KeyedUpsert.MaxInboxFiles
MAX_INBOX_FILES=8

sbt -batch package

JAR="$(ls target/scala-2.13/*.jar | grep -v -- '-tests' | head -1)"
echo "[submit-smoke] jar: $JAR"

fail() { echo "[submit-smoke] FAIL: $*" >&2; exit 1; }

# submit <clientCode> <sink>: runs the job and prints the persons it
# wrote. The job prints "PROCESS END: <n> persons"; require n > 0. Take
# the LAST match only: a retried/duplicated end line would otherwise
# make n multi-line, the numeric test would error (treated as false),
# and the gate would silently pass.
submit() {
  /opt/spark/bin/spark-submit \
    --class graft.retention.RetentionJob \
    --master 'local[8]' \
    --conf spark.sql.shuffle.partitions=8 \
    --conf spark.ui.enabled=false \
    --conf spark.sql.session.timeZone=UTC \
    "$JAR" "$1" "$DATA_DIR" "$2" 10000 >"$LOG" 2>&1 || { cat "$LOG" >&2; fail "$1 run exited non-zero"; }
  cat "$LOG" >&2
  local n
  n="$(grep -o 'PROCESS END: [0-9]*' "$LOG" | tail -1 | grep -o '[0-9]*' || true)"
  if [ -z "$n" ] || [ "$n" -le 0 ]; then fail "$1: no persons written (log: $LOG)"; fi
  echo "$n"
}

# checks every hashed bucket of a sink: one clustered parquet file each
# (a bucket over the advisory partition size would be split; the
# sf0.001 sink is far below it). The inbox _bucket=-1 is not a hashed
# bucket and is checked on its own.
check_sink() {
  ls -d "$1"/_bucket=[0-9]* >/dev/null 2>&1 || fail "sink $1 has no bucket directories"
  # a committed upsert leaves no delta/staging/backup dir beside the sink
  for d in "$1"_graft_*; do
    if [ -e "$d" ]; then fail "$d left behind"; fi
  done
  for b in "$1"/_bucket=[0-9]*; do
    n="$(find "$b" -maxdepth 1 -name '*.parquet' | wc -l)"
    if [ "$n" -eq 0 ]; then fail "bucket $b has no parquet file"; fi
    if [ "$n" -gt 1 ]; then fail "bucket $b holds $n parquet files, not one"; fi
  done
}

hashed_files() { (cd "$1" && find . -path './_bucket=[0-9]*' -name '*.parquet' -exec md5sum {} + | sort); }

N="$(submit ALL "$SINK")"
check_sink "$SINK"

# Two tenants into one sink: BUILDING publishes it; AUTOMOBILE's
# persons (disjoint c_custkeys) are an insert-only delivery, which must
# move into the inbox and leave every hashed bucket file as it was.
NB="$(submit BUILDING "$SINK2")"
BEFORE="$(hashed_files "$SINK2")"
NA="$(submit AUTOMOBILE "$SINK2")"
check_sink "$SINK2"
if [ "$(hashed_files "$SINK2")" != "$BEFORE" ]; then
  fail "the AUTOMOBILE run changed a hashed bucket file of $SINK2"
fi
NI="$(find "$SINK2/_bucket=-1" -maxdepth 1 -name '*.parquet' 2>/dev/null | wc -l)"
if [ "$NI" -lt 1 ] || [ "$NI" -gt "$MAX_INBOX_FILES" ]; then
  fail "$SINK2/_bucket=-1 holds $NI parquet files, not 1..$MAX_INBOX_FILES"
fi
COUNTS="$(python3 - "$SINK2" <<'PY'
import sys, duckdb
r = duckdb.sql(f"select count(*), count(distinct person_id) from "
               f"read_parquet('{sys.argv[1]}/_bucket=*/*.parquet')").fetchone()
print(r[0], r[1])
PY
)"
read -r ROWS KEYS <<<"$COUNTS"
if [ -z "$ROWS" ] || [ "$ROWS" -ne $((NB + NA)) ] || [ "$KEYS" -ne "$ROWS" ]; then
  fail "$SINK2 holds $ROWS rows of $KEYS persons, not BUILDING $NB + AUTOMOBILE $NA"
fi
echo "[submit-smoke] OK: $N persons in $SINK; $NB + $NA tenant persons in $SINK2 ($NI inbox files)"
