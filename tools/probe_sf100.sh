#!/bin/bash
# Third-decade scale probe: the heaviest production-path queries at sf100
# (testdata/sf100, gen_scale factor 1000 — 600M lineitem, 100M events,
# 5M documents; 1000x the driver's grading SF).
#
# Protocol differences vs the sf1/sf10 ramps, and why:
#   - single timed pass, no warm-up (SPARK_GRAFT_BENCH_PASSES=1,
#     SPARK_GRAFT_BENCH_WARMUP=0): per-query wall is minutes, so the
#     steady-state JIT delta the 3-pass-median protocol controls for is
#     noise here, and a warm-up would double the probe's cost.
#   - heap 64g (vs the ramps' fixed ~10g): the ramp holds heap fixed to
#     expose spill growth; at 1000x the grading SF a fixed 10g heap would
#     measure nothing but spill wall. A real cluster scales memory with
#     executors; 64g on 32 cores = 2g/core, still 15x LESS heap-per-byte
#     than the sf10 row, so sub-linear wall ratios here are earned, not
#     bought. Shuffle volume is the heap-independent scale signal.
#
# Usage: tools/probe_sf100.sh [out.json] [query,list]
#
# Round-13 default list: the round-12 additions that had no quiet-rig sf100
# point (unigram train/encode, the gtable facade's running-window path), the
# SemDeDup two-level assignment (its round-12 number was flat-path under
# concurrent load), and three carried linearity sentinels.
#
# Round 14: shuffle partitions are NO LONGER set here — Bench sizes them
# from the fixture bytes (GraftSession.shufflePartitionsFor: ~470 for
# sf100's 15 GB), which is the knob-free reproduction of the r13
# q_gtable_running spill adjudication.
set -e
cd /root/repo
OUT=${1:-bench_sf100_probe.json}
QUERIES=${2:-q_unigram_lm,q_unigram_encode,q_dedup_semantic,q_gtable_running,q_dedup_minhash,q_dedup_clusters,q_text_lmscore}

SPARK_GRAFT_SF_DIR=testdata/sf100 \
SPARK_GRAFT_CPUS=32 \
SPARK_DRIVER_MEM=64g \
SPARK_GRAFT_BENCH_PASSES=1 \
SPARK_GRAFT_BENCH_WARMUP=0 \
SPARK_GRAFT_BENCH_ONLY="$QUERIES" \
SPARK_GRAFT_BENCH_OUT="$OUT" \
bash tools/run_verify.sh graft.Bench
