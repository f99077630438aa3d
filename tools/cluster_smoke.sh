#!/bin/bash
# Cluster-mode smoke gate: run graft.Verify on a REAL 2-worker spark://
# standalone cluster and assert its results bit-equal the local[32] run.
#
# This demonstrates the distribution claim SURVEY §3.2 makes (the
# reference replicates via Raft, store/store.go:174-194; here Spark is
# the distribution layer): the same declarative plans run unchanged with
# executors in separate JVMs, and the Det determinism contract (decimal
# sums, partition-invariant folds) holds under a real executor split.
#
# Usage: tools/cluster_smoke.sh [sfDir] [outJson]
set -eo pipefail
cd "$(dirname "$0")/.."
SF_DIR="${1:-/root/testdata/sf0.01}"
OUT_JSON="${2:-CLUSTER_SMOKE.json}"
SPARK_HOME=/opt/spark
WORK=/tmp/graft_cluster
rm -rf "$WORK"; mkdir -p "$WORK/logs"

echo "== package =="
sbt -batch package | tail -2
JAR=$(ls target/scala-2.13/*.jar | head -1)
echo "jar: $JAR"

cleanup() {
  pkill -f "org.apache.spark.deploy.worker.Worker" 2>/dev/null || true
  pkill -f "org.apache.spark.deploy.master.Master" 2>/dev/null || true
}
trap cleanup EXIT
cleanup; sleep 1

echo "== start master + 2 workers (separate JVMs) =="
"$SPARK_HOME/bin/spark-class" org.apache.spark.deploy.master.Master \
  --host 127.0.0.1 --port 7077 --webui-port 8091 \
  > "$WORK/logs/master.log" 2>&1 &
sleep 4
for i in 1 2; do
  SPARK_WORKER_DIR="$WORK/worker$i" \
  "$SPARK_HOME/bin/spark-class" org.apache.spark.deploy.worker.Worker \
    spark://127.0.0.1:7077 --cores 8 --memory 10g --webui-port 809$((i+1)) \
    > "$WORK/logs/worker$i.log" 2>&1 &
done
sleep 5
grep -q "Registering worker" "$WORK/logs/master.log" || {
  echo "workers failed to register"; cat "$WORK/logs/master.log"; exit 1; }
echo "workers registered: $(grep -c 'Registering worker' "$WORK/logs/master.log")"

echo "== Verify on the cluster (16 cores across 2 executor JVMs) =="
SPARK_GRAFT_CPUS=16 "$SPARK_HOME/bin/spark-submit" \
  --master spark://127.0.0.1:7077 \
  --class graft.Verify \
  --executor-memory 8g --total-executor-cores 16 \
  --conf spark.sql.shuffle.partitions=16 \
  "$JAR" "$SF_DIR" "$WORK/out_cluster" \
  > "$WORK/logs/submit.log" 2>&1 || { tail -30 "$WORK/logs/submit.log"; exit 1; }
grep "\[graft\] verify" "$WORK/logs/submit.log" || true

echo "== Verify locally (the driver-gate shape) =="
sbt -batch "runMain graft.Verify $SF_DIR $WORK/out_local" > "$WORK/logs/local.log" 2>&1

echo "== compare =="
python3 tools/compare_runs.py "$WORK/out_cluster" "$WORK/out_local" "$OUT_JSON"
