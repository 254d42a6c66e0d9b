#!/bin/bash
# The sf1 validation-tier gate, end to end — encapsulated because it has
# TWO easy-to-fumble environment requirements that a plain Verify run
# silently violates:
#   1. the media fixture universe must match the tier: x87/x89's oracle
#      draws doc_ids from the CURRENT SF's documents table (50,000 at
#      sf1), while the staged fixture defaults to the sf0.1 universe
#      (5,000) — run without GRAFT_MEDIA_UNIVERSE_DOCS=50000 and a
#      FRESH fixture dir, and both queries ROWS_MISMATCH (the fixture
#      semi-join covers a tenth of the corpus);
#   2. the per-query oracle needs the killable-timeout runner
#      (compare_timeout.py), not compare.py — four CC-family oracles
#      run ~270 s each at sf1.
# Usage: bash scripts/run_sf1.sh [queries...]   (no args = full suite)
set -e
cd "$(dirname "$0")/.."
. scripts/host_size.sh
. scripts/classpath.sh
SF=${SPARK_GRAFT_SF1_DIR:-/tmp/graft_sf1}
OUT=${SPARK_GRAFT_SF1_OUT:-/tmp/graft_verify_sf1}
FIX=${GRAFT_MEDIA_FIXTURE_DIR:-/tmp/graft_media_sf1}

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

GRAFT_MEDIA_UNIVERSE_DOCS=50000 GRAFT_MEDIA_FIXTURE_DIR="$FIX" \
java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM -cp "$CP" \
  graft.Verify "$SF" "$OUT" $QFILTER

python3 scripts/compare_timeout.py "${ONLY[@]}" "$SF" "$OUT" \
  "${SF1_TIMEOUT:-900}" "${SF1_JOBS:-6}"
