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
. scripts/classpath.sh
SF=${SPARK_GRAFT_SF10_DIR:-/tmp/graft_sf10}
OUT=/tmp/graft_verify_sf10c
QS=${1:-f05_concentration_hhi,j05_range_join,a05_book_summary,x04_simhash,x64_semdedup_banded}

if [ ! -f "$SF/documents.parquet" ] || [ -L "$SF/lineitem.parquet" ]; then
  python3 scripts/make_sf10.py /root/testdata/sf0.1 "$SF"
fi

echo "[sf10c] Verify $QS at $SF ..." >&2
java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM -cp "$CP" \
  graft.Verify "$SF" "$OUT" "$QS" 2>/tmp/sf10c_err.log >/dev/null

echo "[sf10c] DuckDB oracle compare (killable, 3600 s/query) ..." >&2
python3 scripts/compare_timeout.py --only "$QS" "$SF" "$OUT" 3600 2
cp "$OUT/compare_results.partial.json" CORRECTNESS_SF10.json
echo "[sf10c] -> CORRECTNESS_SF10.json" >&2
