#!/bin/bash
# The local bench, end to end, with the drift gate wired in: run
# graft.Bench (full suite at sf0.1 by default, or the query prefixes
# given), then compare a full-suite artifact against the version
# COMMITTED at git HEAD under the same path through the
# reference-probe normalization (check_bench_delta.py). A normalized
# regression > 1.15x total — host drift divided out — exits nonzero
# with the paired-A/B escalation printed, so round-over-round drift is
# a gated verdict, not a judgment call.
# Usage: bash scripts/run_bench.sh [query-prefixes...]
set -e
set -o pipefail
cd "$(dirname "$0")/.."
. scripts/host_size.sh
. scripts/classpath.sh
SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}

SPARK_GRAFT_SF_DIR="$SF" \
java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM -cp "$CP" graft.Bench "$@"

# Bench's path rule (Bench.defaultOut): one artifact per (sf, cpus)
OUT=${SPARK_GRAFT_BENCH_OUT:-BENCH_$(basename "$SF").c$SPARK_GRAFT_CPUS${1:+.subset}.json}
if [ $# -gt 0 ]; then
  echo "[bench] query subset: drift gate skipped" >&2
elif git cat-file -e "HEAD:$OUT" 2>/dev/null; then
  echo "[bench] drift gate vs committed $OUT ..." >&2
  python3 scripts/check_bench_delta.py --git-prev "$OUT"
else
  echo "[bench] HEAD has no committed $OUT: drift gate skipped" >&2
fi
