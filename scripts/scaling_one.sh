#!/bin/bash
# One-off single-config submit against a (started) standalone master, with
# per-job profiling. Usage: scripts/scaling_one.sh <totalCores> [nPages] [execCores] [extraConf...]
set -u
CORES=${1:-32}
NPAGES=${2:-120000}
ECORES=${3:-4}
shift 3 2>/dev/null || shift $#
JAR=target/scala-2.13/entityembedspark_2.13-0.1.0.jar

export SPARK_HOME=/opt/spark
export SPARK_LOG_DIR=/tmp/spark-logs
export SPARK_WORKER_DIR=/tmp/spark-work
export SPARK_PID_DIR=/tmp/spark-pids
export SPARK_LOCAL_IP=127.0.0.1
export SPARK_MASTER_HOST=127.0.0.1

if ! curl -s http://127.0.0.1:8080 >/dev/null 2>&1; then
  "$SPARK_HOME/sbin/start-master.sh" >/dev/null
  sleep 3
  "$SPARK_HOME/sbin/start-worker.sh" spark://127.0.0.1:7077 -c 32 -m 100g >/dev/null
  sleep 3
fi

EXTRA=()
for c in "$@"; do EXTRA+=(--conf "$c"); done

"$SPARK_HOME/bin/spark-submit" \
  --master spark://127.0.0.1:7077 \
  --deploy-mode client \
  --class graft.tools.ScalingCluster \
  --executor-cores "$ECORES" \
  --executor-memory "${GRAFT_EXEC_MEM:-6g}" \
  --driver-memory 8g \
  --conf spark.cores.max="$CORES" \
  --conf spark.sql.shuffle.partitions="${GRAFT_SHUFFLE_PARTS:-32}" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.ui.enabled=false \
  "${EXTRA[@]}" \
  "$JAR" "$NPAGES" 1 profile 2>/dev/null | grep '\[scalec\]'
