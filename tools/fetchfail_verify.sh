#!/usr/bin/env bash
# Fetch-failure chaos pass: run the FULL oracle registry dump under a
# local-cluster master (two real executor JVMs) and kill -9 one executor
# mid-flight — twice. Losing an executor loses its shuffle output (no
# external shuffle service), so the next reduce stage hits FetchFailed and
# Spark must resubmit the parent map stage; the no-runtime-RNG construction
# says recomputed partitions are bit-identical, so every oracle hash must
# still match. On a multi-JVM master every pin is a checkpoint file
# (graft.Pinned), so executor loss costs a re-read or a stage recompute,
# never a job restart: Verify runs each query once, and any
# "[verify] <q> failed" line is a lost query. DuckDB compare runs afterwards
# via local_verify.py SKIP_SPARK=1.
#
# Usage: bash tools/fetchfail_verify.sh [sfdir] [outdir] [kill1_s] [kill2_s]
# Artifacts: CORRECTNESS_fetchfail.json (per-query), FETCHFAIL_evidence.log
# (kill timeline + the driver's executor-loss / stage-resubmit lines).
set -uo pipefail
cd "$(dirname "$0")/.."
SFDIR="${1:-/root/testdata/sf0.01}"
OUTDIR="${2:-/tmp/graft_verify_fetchfail}"
K1="${3:-150}"
K2="${4:-420}"
LOG=/tmp/graft_fetchfail_driver.log
EVID=FETCHFAIL_evidence.log
CORR=CORRECTNESS_fetchfail.json
# Sized from this machine's cores and RAM: two executors share the cores,
# each gets 1/8 of RAM (1-12 GB) and the driver 1/4 (2-8 GB).
CPUS="$(env -u OMP_NUM_THREADS nproc)"
MEM_MB="$(awk '/^MemTotal:/ {print int($2 / 1024)}' /proc/meminfo)"
clamp() { awk -v v="$1" -v lo="$2" -v hi="$3" 'BEGIN {print (v < lo ? lo : v > hi ? hi : int(v))}'; }
EXEC_CORES=$(( CPUS / 2 > 0 ? CPUS / 2 : 1 ))
EXEC_MB="$(clamp $(( MEM_MB / 8 )) 1024 12288)"
DRIVER_MB="$(clamp $(( MEM_MB / 4 )) 2048 8192)"
MASTER="local-cluster[2,$EXEC_CORES,$EXEC_MB]"

rm -rf "$OUTDIR"; mkdir -p "$OUTDIR"
: > "$EVID"
echo "sf=$SFDIR master=$MASTER executor_mem=${EXEC_MB}m driver_mem=${DRIVER_MB}m cpus=$CPUS kill_at=${K1}s,${K2}s" >> "$EVID"

(
  # executor assassin: at K1 and K2 seconds, kill -9 the OLDEST living
  # CoarseGrainedExecutorBackend (ignoring this script's own java parents)
  for delay in "$K1" "$K2"; do
    sleep "$delay"
    pid=$(pgrep -f CoarseGrainedExecutorBackend | head -1 || true)
    if [ -n "${pid:-}" ]; then
      echo "$(date -u +%H:%M:%S) KILL executor pid=$pid (after ${delay}s)" >> "$EVID"
      kill -9 "$pid" || true
    else
      echo "$(date -u +%H:%M:%S) no executor found at ${delay}s" >> "$EVID"
    fi
  done
) &
ASSASSIN=$!

# SPARK_GRAFT_LOG_DAG=1: the "Resubmitting" stage-recompute lines the
# resubmitted counter reads are DAGScheduler INFO lines, below WARN
SPARK_GRAFT_MASTER="$MASTER" SPARK_SCALA_VERSION=2.13 SPARK_GRAFT_LOG_DAG=1 \
  SPARK_GRAFT_EXECUTOR_MEM="${EXEC_MB}m" SPARK_GRAFT_CPUS="$CPUS" \
  SPARK_DRIVER_MEM="${DRIVER_MB}m" \
  bash tools/run_verify.sh graft.Verify "$SFDIR" "$OUTDIR" > "$LOG" 2>&1
RC=$?
kill "$ASSASSIN" 2>/dev/null || true
echo "verify exit=$RC" >> "$EVID"

# the driver's own record that the executor died mid-flight and stages were
# recomputed
grep -E "Lost executor|ExecutorLostFailure|FetchFailed|Resubmitt|failed.*executor|Marking.*as failed" "$LOG" \
  | head -80 >> "$EVID" || true
echo "--- failed-task / resubmit counts ---" >> "$EVID"
printf 'lost_executor=%s fetchfailed=%s resubmitted=%s failed_queries=%s\n' \
  "$(grep -c 'Lost executor' "$LOG" || true)" \
  "$(grep -c -i 'fetchfail' "$LOG" || true)" \
  "$(grep -c -i 'resubmit' "$LOG" || true)" \
  "$(grep -c '\[verify\].*failed' "$LOG" || true)" >> "$EVID"

if [ "$RC" -ne 0 ]; then
  echo "FETCHFAIL VERIFY RUN FAILED rc=$RC (see $LOG)"; exit "$RC"
fi

SKIP_SPARK=1 GRAFT_VERIFY_JSON="$CORR" \
  python3 tools/local_verify.py "$SFDIR" "$OUTDIR" | tail -3 | tee -a "$EVID"
