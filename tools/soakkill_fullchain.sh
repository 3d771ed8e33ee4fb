#!/usr/bin/env bash
# Executor kill DURING the full-chain streaming soak (round-16 verdict item
# 3): round 16 built the two instruments separately — the all-stages soak
# (gate → decontam → exact → near-dup → semantic, closed-form laws exact at
# 20M rows) and the mid-heavy batch kill (stage resubmission, hash-identical
# output). This composes them: soak_fullchain under local-cluster (two real
# executor JVMs), one executor kill -9'd mid-run, and the CLOSED-FORM LAWS
# are the verdict — every near-family admitted exactly once, every semantic
# family exactly once, zero junk/contam leaks, across the recovery. The
# streaming analogue of the batch fetchfail pass: state lives in
# checkpointed stores, so a lost executor must reload state from the
# checkpoint on a surviving/relaunched executor and the admission set must
# come out exactly the same as an undisturbed run.
#
# Usage: bash tools/soakkill_fullchain.sh [rows] [batch] [kill_s]
# Artifacts: SOAKKILL_evidence.log (+ /tmp/soakkill_*.log)
set -uo pipefail
cd "$(dirname "$0")/.."
ROWS="${1:-2000000}"
# default chunk: a tenth of the feed, so the soak's plateau verdict (6 or
# more input batches per query) always has the batches it needs
BATCH="${2:-$(( ROWS / 10 ))}"
KILL_S="${3:-30}"
EVID=SOAKKILL_evidence.log
# Sized from this machine's cores and RAM: two executors share the cores,
# each gets 1/8 of RAM (1-12 GB) and the driver 1/4 (2-8 GB), so the whole
# run stays near half of RAM. The soak's state is small; the heavy part is
# the parquet feed scan and shuffle.
CPUS="$(env -u OMP_NUM_THREADS nproc)"
MEM_MB="$(awk '/^MemTotal:/ {print int($2 / 1024)}' /proc/meminfo)"
clamp() { awk -v v="$1" -v lo="$2" -v hi="$3" 'BEGIN {print (v < lo ? lo : v > hi ? hi : int(v))}'; }
EXEC_CORES=$(( CPUS / 2 > 0 ? CPUS / 2 : 1 ))
EXEC_MB="$(clamp $(( MEM_MB / 8 )) 1024 12288)"
DRIVER_MB="$(clamp $(( MEM_MB / 4 )) 2048 8192)"
MASTER="local-cluster[2,$EXEC_CORES,$EXEC_MB]"

run_one() { # $1=log $2=kill(0/1)
  local t0 t1 rc
  # clean stale sbfc-* dirs BEFORE spawning the assassin — its ckp1 poll
  # must only ever see THIS run's checkpoint dir, or the kill timer starts
  # off a previous run's leftovers and lands in the feed-write phase
  rm -rf /tmp/sbfc-* 2>/dev/null
  if [ "$2" = "1" ]; then
    (
      # a time-based kill can land in the feed-WRITE phase; instead wait for
      # query 1's streaming state checkpoint to appear (stale sbfc-* tmp
      # dirs are cleaned at script start), then KILL_S seconds into the
      # actual streaming run
      for _ in $(seq 1 300); do
        ls -d /tmp/sbfc-ckp1*/state > /dev/null 2>&1 && break
        sleep 2
      done
      sleep "$KILL_S"
      pid=$(pgrep -f CoarseGrainedExecutorBackend | head -1 || true)
      if [ -n "${pid:-}" ]; then
        echo "$(date -u +%H:%M:%S) KILL executor pid=$pid (${KILL_S}s after q1 state appeared, mid-soak)" >> "$EVID"
        kill -9 "$pid" || true
      else
        echo "$(date -u +%H:%M:%S) no executor found at kill time" >> "$EVID"
      fi
    ) &
    ASSASSIN=$!
  fi
  t0=$(date +%s)
  # SPARK_GRAFT_LOG_DAG=1: the "Resubmitting" stage-recompute lines this
  # evidence needs are DAGScheduler INFO lines, below the WARN root level
  SPARK_GRAFT_MASTER="$MASTER" SPARK_SCALA_VERSION=2.13 \
    SPARK_GRAFT_LOG_DAG=1 \
    SPARK_GRAFT_EXECUTOR_MEM="${EXEC_MB}m" \
    SPARK_GRAFT_CPUS="$CPUS" SPARK_DRIVER_MEM="${DRIVER_MB}m" \
    bash tools/run_verify.sh graft.StreamBench soak_fullchain "$ROWS" "$BATCH" \
    > "$1" 2>&1
  rc=$?
  t1=$(date +%s)
  [ "$2" = "1" ] && kill "$ASSASSIN" 2>/dev/null
  echo "$((t1 - t0)) $rc"
}

law_line() { grep -o '{"soak_fullchain_admitted_neardup".*}' "$1" | tail -1; }
verdict_of() { # $1=log $2=rows
  python3 - "$1" "$2" <<'EOF'
import json, sys
line = None
for l in open(sys.argv[1], errors="replace"):
    if '"soak_fullchain_admitted_neardup"' in l:
        line = l.strip()
if line is None:
    print("LAW_VERDICT=NO_LAW_LINE"); sys.exit(0)
d = json.loads(line[line.index('{'):])
rows = int(sys.argv[2])
ok = (d["soak_fullchain_admitted_neardup"] == d["expected_neardup"] == rows // 20
      and d["admitted_semantic"] == d["expected_semantic"] == rows // 40
      and d["junk_leaks"] == 0 and d["contam_leaks"] == 0
      and d["nfam_doubled"] == 0 and d["nfam_missing"] == 0
      and d["sfam_doubled"] == 0 and d["sfam_missing"] == 0)
print(f"LAW_VERDICT={'EXACT' if ok else 'VIOLATED'}")
EOF
}

: > "$EVID"
echo "mode=soak_fullchain rows=$ROWS batch=$BATCH master=$MASTER executor_mem=${EXEC_MB}m driver_mem=${DRIVER_MB}m cpus=$CPUS kill_at=${KILL_S}s" >> "$EVID"

echo "--- kill run ---" >> "$EVID"
read -r KILL_WALL KILL_RC <<< "$(run_one /tmp/soakkill_kill.log 1)"
echo "kill_wall_s=$KILL_WALL kill_rc=$KILL_RC" >> "$EVID"
echo "--- executor-loss evidence (kill run) ---" >> "$EVID"
grep -E "Lost executor|ExecutorLostFailure|FetchFailed|Resubmitt|state store|StateStore.*(load|restore)" \
  /tmp/soakkill_kill.log | head -30 >> "$EVID" || true
printf 'lost_executor=%s fetchfailed=%s\n' \
  "$(grep -c 'Lost executor' /tmp/soakkill_kill.log || true)" \
  "$(grep -c -i 'fetchfail' /tmp/soakkill_kill.log || true)" >> "$EVID"
echo "--- laws (kill run) ---" >> "$EVID"
law_line /tmp/soakkill_kill.log >> "$EVID" || echo "NO LAW LINE" >> "$EVID"
verdict_of /tmp/soakkill_kill.log "$ROWS" >> "$EVID"
grep -o '{"soak_verdict".*}' /tmp/soakkill_kill.log >> "$EVID" || true
grep -o '{"metric":"stream_rows_per_sec".*}' /tmp/soakkill_kill.log >> "$EVID" || true
tail -8 "$EVID"
