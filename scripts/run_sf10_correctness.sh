#!/bin/bash
# sf10 OUTPUT-exactness spot check (r19 verdict task 6): the sf10 tier
# gates wall-clock linearity (check_growth.py) and the h01 audit, but
# value exactness at 100x was only proven for h01. This runs the REAL
# DuckDB compare at sf10 for two cheap-at-this-scale families — one
# event-surface (f05 HHI, j05 range join read events; a05 reads the
# r20-scaled lineitem) and one document family (x04 SimHash, x64
# banded SemDeDup) — through the same killable-timeout runner the sf1
# tier uses, and records CORRECTNESS_SF10.json at the repo root.
# Usage: bash scripts/run_sf10_correctness.sh [queries-csv]
set -e
set -o pipefail
cd "$(dirname "$0")/.."
. scripts/host_size.sh
SF=${SPARK_GRAFT_SF10_DIR:-/tmp/graft_sf10}
OUT=/tmp/graft_verify_sf10c
QS=${1:-f05_concentration_hhi,j05_range_join,a05_book_summary,x04_simhash,x64_semdedup_banded}

if [ ! -f "$SF/documents.parquet" ] || [ -L "$SF/lineitem.parquet" ]; then
  python3 scripts/make_sf10.py /root/testdata/sf0.1 "$SF"
fi
if ! grep -q "target/scala" /tmp/graft_cp.txt 2>/dev/null; then
  sbt -batch "export Runtime/fullClasspath" 2>/dev/null | tail -1 > /tmp/graft_cp.txt.tmp
  grep -q "target/scala" /tmp/graft_cp.txt.tmp || {
    echo "[sf10c] classpath export failed"; rm -f /tmp/graft_cp.txt.tmp; exit 1; }
  mv /tmp/graft_cp.txt.tmp /tmp/graft_cp.txt
fi
ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"

echo "[sf10c] Verify $QS at $SF ..." >&2
java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM -cp "$(cat /tmp/graft_cp.txt)" \
  graft.Verify "$SF" "$OUT" "$QS" 2>/tmp/sf10c_err.log >/dev/null

echo "[sf10c] DuckDB oracle compare (killable, 3600 s/query) ..." >&2
python3 scripts/compare_timeout.py --only "$QS" "$SF" "$OUT" 3600 2
cp "$OUT/compare_results.partial.json" CORRECTNESS_SF10.json
echo "[sf10c] -> CORRECTNESS_SF10.json" >&2
