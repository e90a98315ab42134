#!/bin/bash
# Round-17 scale evidence: full-suite benches at sf0.1, x10 (1x scale
# data = sf0.1 replicated 10x) and x100 on the finished tree, one after
# another on an otherwise quiet box. x10/x100 data regenerated this
# round with tools/ScaleUp (scripts/scaleup_r17.sh).
set -e
cd /root/repo
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BENCH_FILE=/root/repo/BENCH_r17_sf01_evidence.json \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | tail -1
SPARK_GRAFT_SF_DIR=/root/repo/scale/x10 SPARK_GRAFT_BENCH_FILE=/root/repo/BENCH_r17_x10.json \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | tail -1
SPARK_GRAFT_SF_DIR=/root/repo/scale/x100 SPARK_GRAFT_BENCH_FILE=/root/repo/BENCH_r17_x100.json \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"' | tail -1
echo EVIDENCE_DONE
