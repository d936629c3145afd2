#!/bin/bash
# Targeted re-bench of a comma-separated entry list on the compiled
# classes of the checkout this script lives in:
# tools/ab_bench.sh <entries> <outfile> [cpus] [runs]
# Same methodology as the canonical bench (interleaved passes, lower
# median, noop sink) via SPARK_GRAFT_ONLY. Without [cpus], graft.Bench's
# own default (SPARK_GRAFT_CPUS, else 4) applies.
set -e
ENTRIES="$1"; OUT="$2"; RUNS="${4:-3}"
if [ -n "$3" ]; then export SPARK_GRAFT_CPUS="$3"; fi
SPARK_GRAFT_SF_DIR="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}" \
SPARK_GRAFT_BENCH_RUNS="$RUNS" \
SPARK_GRAFT_ONLY="$ENTRIES" SPARK_GRAFT_BENCH_FILE="$OUT" \
  "$(dirname "$0")/run_main.sh" graft.Bench
