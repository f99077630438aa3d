#!/bin/bash
# Scale-OUT probe (r11 verdict item 6): run the data-heavy families on a
# REAL spark:// standalone cluster with 1 worker, then 2 workers (separate
# JVMs, 8 cores / 20g each), same box, same jar, same 10x corpus - and
# record the marginal speedup of the second worker per family. This is the
# honest small-scale test of "the plans you'd want at 100x": a plan whose
# exchanges serialize won't speed up when executors double. On a spark://
# master graft.SessionProfile keeps Spark's shuffle and cache compression;
# SPARK_GRAFT_CPUS sets the shuffle partition count.
#
# Usage: tools/scaleout_probe.sh [sfDir] [querySubset]
set -eo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/tmp/derived10x_r12}"
SUBSET="${2:-q01,q02,q03,q04,q05,q06,q08,q09,q11,q12,q13,q14,q16,q17,q18,q44,x01,x02,x03,x04,x19,x20,x40,x26,x27,x37}"
SPARK_HOME=/opt/spark
WORK=/tmp/graft_scaleout
rm -rf "$WORK"; mkdir -p "$WORK/logs"

echo "== package =="
sbt -batch package | tail -1
JAR=$(ls target/scala-2.13/*.jar | head -1)

cleanup() {
  pkill -f "org.apache.spark.deploy.worker.Worker" 2>/dev/null || true
  pkill -f "org.apache.spark.deploy.master.Master" 2>/dev/null || true
}
trap cleanup EXIT
cleanup; sleep 1

"$SPARK_HOME/bin/spark-class" org.apache.spark.deploy.master.Master \
  --host 127.0.0.1 --port 7077 --webui-port 8091 \
  > "$WORK/logs/master.log" 2>&1 &
sleep 4

start_worker() { # idx
  SPARK_WORKER_DIR="$WORK/worker$1" \
  "$SPARK_HOME/bin/spark-class" org.apache.spark.deploy.worker.Worker \
    spark://127.0.0.1:7077 --cores 8 --memory 20g --webui-port 809$(($1+1)) \
    > "$WORK/logs/worker$1.log" 2>&1 &
  sleep 5
}

run_bench() { # tag cores
  echo "== bench: $1 ($2 cores) =="
  SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_ONLY="$SUBSET" \
  SPARK_GRAFT_DETAIL_OUT="$WORK/bench_detail_$1.json" \
  SPARK_GRAFT_CPUS=32 \
  "$SPARK_HOME/bin/spark-submit" \
    --master spark://127.0.0.1:7077 \
    --class graft.Bench \
    --driver-memory 8g \
    --executor-memory 16g --executor-cores 8 --total-executor-cores "$2" \
    "$JAR" > "$WORK/logs/bench_$1.log" 2>&1 || { tail -30 "$WORK/logs/bench_$1.log"; exit 1; }
  grep -o '{"metric".*' "$WORK/logs/bench_$1.log" | tail -1 > "$WORK/bench_$1.json"
  echo "  $(cut -c1-120 "$WORK/bench_$1.json")"
}

start_worker 1
run_bench 1w 8

start_worker 2
grep -c "Registering worker" "$WORK/logs/master.log"
run_bench 2w 16

python3 - "$WORK/bench_1w.json" "$WORK/bench_2w.json" <<'EOF'
import json, sys
a = json.load(open(sys.argv[1])); b = json.load(open(sys.argv[2]))
fams = {
  "scan/agg": ["q01","q02","q06","q11","q12","q13","q14"],
  "join": ["q03","q04","q05","q08","q09","q44"],
  "window": ["q16","q17","q18"],
  "dedup": ["x01","x02","x03","x04","x19","x20","x40"],
  "text/index": ["x26","x27","x37"],
}
print(f"{'family':12} {'1w':>8} {'2w':>8} {'speedup':>8}")
for f, qs in fams.items():
    t1 = sum(a["queries"].get(q, 0) for q in qs)
    t2 = sum(b["queries"].get(q, 0) for q in qs)
    print(f"{f:12} {t1:8.2f} {t2:8.2f} {t1/t2 if t2 else 0:8.2f}")
t1, t2 = a["value"], b["value"]
print(f"{'TOTAL':12} {t1:8.2f} {t2:8.2f} {t1/t2 if t2 else 0:8.2f}")
EOF
