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
SF=${SPARK_GRAFT_SF1_DIR:-/tmp/graft_sf1}
OUT=${SPARK_GRAFT_SF1_OUT:-/tmp/graft_verify_sf1}
FIX=${GRAFT_MEDIA_FIXTURE_DIR:-/tmp/graft_media_sf1}

if [ ! -f "$SF/documents.parquet" ]; then
  echo "[sf1] generating $SF from /root/testdata/sf0.1"
  python3 scripts/make_sf1.py /root/testdata/sf0.1 "$SF"
fi

# regenerate the classpath cache unless it exists AND looks like a
# classpath (a failed sbt would otherwise cache garbage forever: the
# pipeline's exit status is tail's, so set -e can't catch it)
if ! grep -q "target/scala" /tmp/graft_cp.txt 2>/dev/null; then
  sbt -batch "export Runtime/fullClasspath" 2>/dev/null | tail -1 > /tmp/graft_cp.txt.tmp
  grep -q "target/scala" /tmp/graft_cp.txt.tmp || {
    echo "[sf1] classpath export failed"; rm -f /tmp/graft_cp.txt.tmp; exit 1; }
  mv /tmp/graft_cp.txt.tmp /tmp/graft_cp.txt
fi
ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"

QFILTER=""
ONLY=()
if [ $# -gt 0 ]; then
  QFILTER=$(IFS=,; echo "$*")
  ONLY=(--only "$QFILTER")   # compare the same subset Verify dumped
fi

GRAFT_MEDIA_UNIVERSE_DOCS=50000 GRAFT_MEDIA_FIXTURE_DIR="$FIX" \
java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM -cp "$(cat /tmp/graft_cp.txt)" \
  graft.Verify "$SF" "$OUT" $QFILTER

python3 scripts/compare_timeout.py "${ONLY[@]}" "$SF" "$OUT" \
  "${SF1_TIMEOUT:-900}" "${SF1_JOBS:-6}"
