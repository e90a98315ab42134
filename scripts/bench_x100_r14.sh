#!/bin/bash
# Round-14 x100 evidence: top-20-by-sf10-cost subset + owl_maintained
# at scale/x100 (written by scripts/scaleup_r17.sh), per-query JSON to
# BENCH_r14_sf100.json.
# Search-family x100 figures live in SearchIxBench evidence runs.
set -x
cd "$(dirname "$0")/.."
export SPARK_GRAFT_SF_DIR="$PWD/scale/x100"
export SPARK_GRAFT_CPUS="$(env -u OMP_NUM_THREADS nproc)"
export SPARK_GRAFT_BENCH_FILE="$PWD/BENCH_r14_sf100.json"
export SPARK_GRAFT_ONLY=gas_cc,gas_ppr,rdfs_retract,stream_stream_join,stream_neardup,dedup_ngram_jaccard,stream_neardup_archive,gas_assortativity,stream_sessionize,gas_fuzzy_sssp,dedup_cluster,stream_neardup_ttl,stream_cms,stream_transitions,searchinsearch_service,dedup_embed_cosine,path_transitive,gas_pr,stream_hll,rdfs_incremental,owl_maintained
sbt -batch "runMain graft.Bench" 2>&1 | grep -E '"metric"|searchix|error' | tail -5
