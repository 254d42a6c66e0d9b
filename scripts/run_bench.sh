#!/bin/bash
# The local full-suite bench, end to end, with the r20 drift gate wired
# in: run graft.Bench at sf0.1 (full fidelity -> BENCH_LOCAL.json,
# steal/overwrite hygiene inside Bench itself), then compare the fresh
# artifact against the version COMMITTED at git HEAD through the
# reference-probe normalization (check_bench_delta.py). A normalized
# regression > 1.15x total — host drift divided out — exits nonzero
# with the PLANS.md r19 paired-A/B escalation printed, so
# round-over-round drift is a gated verdict, not a judgment call.
# Usage: bash scripts/run_bench.sh [query-prefixes...]
set -e
set -o pipefail
cd "$(dirname "$0")/.."
. scripts/host_size.sh
SF=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}

if ! grep -q "target/scala" /tmp/graft_cp.txt 2>/dev/null; then
  sbt -batch "export Runtime/fullClasspath" 2>/dev/null | tail -1 > /tmp/graft_cp.txt.tmp
  grep -q "target/scala" /tmp/graft_cp.txt.tmp || {
    echo "[bench] classpath export failed"; rm -f /tmp/graft_cp.txt.tmp; exit 1; }
  mv /tmp/graft_cp.txt.tmp /tmp/graft_cp.txt
fi
ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"

SPARK_GRAFT_SF_DIR="$SF" \
java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM -cp "$(cat /tmp/graft_cp.txt)" graft.Bench "$@"

# the drift gate only meaningfully applies to the full suite writing
# BENCH_LOCAL.json against a committed predecessor of the same sf
if [ $# -eq 0 ] && git cat-file -e HEAD:BENCH_LOCAL.json 2>/dev/null; then
  echo "[bench] drift gate vs committed BENCH_LOCAL.json ..." >&2
  python3 scripts/check_bench_delta.py --git-prev BENCH_LOCAL.json
fi
