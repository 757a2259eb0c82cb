#!/bin/bash
# sf10 point for the three pair-hostile queries (VERDICT r4 #4).
#
# The mult=100 replicated corpus is ADVERSARIAL for bucket self-joins:
# embeddings replicate byte-identically, so every sign-LSH bucket holds 100
# copies of each original member and candidate-pair counts grow ~10,000x
# over sf0.1 (100x over sf1).  Each query runs ALONE (fresh session, one
# rep — JIT warm-up is noise at this size) under a hard wall; a wall kill
# is itself the measurement (reported as >WALL in BASELINE.md).
set -u
cd "$(dirname "$0")/.."
WALL=${WALL:-3000}
SF_DIR=/tmp/sf10
# the subset detail file bench.py writes, named the way bench.py names it
DETAIL=$(SPARK_GRAFT_SF_DIR="$SF_DIR" python -c \
  'import bench; print(f"BENCH/bench_detail_sf{bench._sf_number(bench.SF_DIR)}_cpus{bench.CPUS}_subset.json")')
for q in dedup_ngram_jaccard t_triplet_mine t_split_leakage_emb dedup_components t_semdedup; do
  echo "=== $q (wall ${WALL}s) $(date +%T)"
  timeout "$WALL" env SPARK_GRAFT_SF_DIR="$SF_DIR" \
    python bench.py --queries "$q" --reps 1 > "/tmp/sf10_${q}.log" 2>&1
  rc=$?
  [ $rc -eq 124 ] && echo "WALL KILL after ${WALL}s" >> "/tmp/sf10_${q}.log"
  tail -1 "/tmp/sf10_${q}.log"
  # each run writes the same _subset detail file; keep a per-query copy
  cp -f "$DETAIL" "/tmp/sf10_detail_${q}.json"
done
echo "=== all done $(date +%T)"
