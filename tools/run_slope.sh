#!/bin/bash
# Slope measurement: the 10 most expensive suite queries at sf0.1 /
# sf0.3 / sf1.0 (scaled dirs from tools/make_scaled_sf.py).
# Usage: tools/run_slope.sh <sf_dir> <out_log>
# One Bench process per dir; SPARK_GRAFT_ONLY prefix-matches.
set -e
SPARK_GRAFT_SF_DIR="$1" SPARK_GRAFT_CPUS=32 \
SPARK_GRAFT_ONLY=q4_training,q8_targeted,d15_incremental,n11_ivf,q6_shard,q5_tokenize,a2_a5,d24_substring,n2_cosine,m15_quality \
  sbt -batch "runMain graft.Bench" > "$2" 2>&1
grep '"metric"' "$2" | tail -1
