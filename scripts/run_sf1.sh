#!/bin/bash
# The sf1 validation-tier gate, end to end — encapsulated because the
# per-query oracle needs the killable-timeout runner (compare_timeout.py),
# not compare.py: four CC-family oracles run ~270 s each at sf1.
# Usage: bash scripts/run_sf1.sh [queries...]   (no args = full suite)
set -e
cd "$(dirname "$0")/.."
. scripts/host_size.sh
. scripts/classpath.sh
SF=${SPARK_GRAFT_SF1_DIR:-/tmp/graft_sf1}
OUT=${SPARK_GRAFT_SF1_OUT:-/tmp/graft_verify_sf1}

if [ ! -f "$SF/documents.parquet" ]; then
  echo "[sf1] generating $SF from /root/testdata/sf0.1"
  python3 scripts/make_sf1.py /root/testdata/sf0.1 "$SF"
fi

QFILTER=""
ONLY=()
if [ $# -gt 0 ]; then
  QFILTER=$(IFS=,; echo "$*")
  ONLY=(--only "$QFILTER")   # compare the same subset Verify dumped
fi

java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM -cp "$CP" \
  graft.Verify "$SF" "$OUT" $QFILTER

python3 scripts/compare_timeout.py "${ONLY[@]}" "$SF" "$OUT" \
  "${SF1_TIMEOUT:-900}" "${SF1_JOBS:-6}"
