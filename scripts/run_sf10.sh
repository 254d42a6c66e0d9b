#!/bin/bash
# sf10 SPOT-tier runner (r17 verdict task #4): Spark-side wall clock
# for the superlinear suspects, ONE query per JVM so a pathological
# query is isolable and every finished query's reading survives a
# later hang. No DuckDB compare at this tier (the CC oracles already
# need ~270 s at sf1); h01 + wall growth are the instruments.
# Usage: bash scripts/run_sf10.sh [outJsonl] [queries...]
set -e
# pipefail: without it the loop's status is grep's, so a Bench JVM that
# prints its metric line and then dies in teardown would record as success
set -o pipefail
cd "$(dirname "$0")/.."
. scripts/host_size.sh
SF=${SPARK_GRAFT_SF10_DIR:-/tmp/graft_sf10}
OUT=${1:-/tmp/sf10_results.jsonl}
shift || true

# regenerate when absent OR when the dir predates the r19 events tier /
# the r20 lineitem tier (each was a symlink then; both are scaled now)
if [ ! -f "$SF/documents.parquet" ] || [ -L "$SF/events.parquet" ] \
   || [ -L "$SF/lineitem.parquet" ]; then
  python3 scripts/make_sf10.py /root/testdata/sf0.1 "$SF"
fi
if ! grep -q "target/scala" /tmp/graft_cp.txt 2>/dev/null; then
  sbt -batch "export Runtime/fullClasspath" 2>/dev/null | tail -1 > /tmp/graft_cp.txt.tmp
  grep -q "target/scala" /tmp/graft_cp.txt.tmp || {
    echo "[sf10] classpath export failed"; rm -f /tmp/graft_cp.txt.tmp; exit 1; }
  mv /tmp/graft_cp.txt.tmp /tmp/graft_cp.txt
fi
ADD_OPENS="--add-opens java.base/java.lang=ALL-UNNAMED --add-opens java.base/java.lang.invoke=ALL-UNNAMED --add-opens java.base/java.lang.reflect=ALL-UNNAMED --add-opens java.base/java.io=ALL-UNNAMED --add-opens java.base/java.net=ALL-UNNAMED --add-opens java.base/java.nio=ALL-UNNAMED --add-opens java.base/java.util=ALL-UNNAMED --add-opens java.base/java.util.concurrent=ALL-UNNAMED --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED --add-opens java.base/sun.nio.ch=ALL-UNNAMED --add-opens java.base/sun.nio.cs=ALL-UNNAMED --add-opens java.base/sun.security.action=ALL-UNNAMED --add-opens java.base/sun.util.calendar=ALL-UNNAMED"

QUERIES=("$@")
if [ ${#QUERIES[@]} -eq 0 ]; then
  QUERIES=(x02_minhash_lsh x03_jaccard_verify x04_simhash x05_simhash_pairs \
           x34_winnow_overlap x16_embedding_neardup x64_semdedup_banded \
           x23_neardup_clusters x46_keep_best x92_cluster_splits \
           x94_cluster_spectrum h01_lsh_bucket_audit \
           j05_range_join w03_session_window a05_book_summary \
           s02_ws_json_roundtrip f01_price_momentum f02_volatility \
           f03_imbalance_signal f04_whale_deltas f05_concentration_hhi \
           f06_top_share f07_ewma \
           x120_h264_intra_decode x121_h264_i16_decode)
  GROWTH_MODE=""        # full default list -> completeness-checked gate
else
  GROWTH_MODE="--partial"  # explicit subset -> skip the expected-family check
fi

: > "$OUT"
# per-query FULL-fidelity artifacts (reps/spread/steal/policy — the
# r19 verdict's evidentiary-standard gap: events-tier readings were
# single-shot stdout lines while the doc families carried rep fields)
FULLDIR=${SPARK_GRAFT_SF10_FULL:-/tmp/sf10_full}
mkdir -p "$FULLDIR"
for q in "${QUERIES[@]}"; do
  echo "[sf10] $q ..." >&2
  SPARK_GRAFT_SF_DIR="$SF" \
  SPARK_GRAFT_BENCH_OUT="$FULLDIR/$q.json" \
  java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM -cp "$(cat /tmp/graft_cp.txt)" \
    graft.Bench "$q" 2>/tmp/sf10_q_err.log | grep '"metric"' >> "$OUT" \
    || echo "{\"failed\":\"$q\"}" >> "$OUT"
done
# merge the per-query rep detail into one reviewable document
python3 - "$FULLDIR" "${QUERIES[@]}" <<'EOF'
import json, os, sys
d, qs = sys.argv[1], sys.argv[2:]
out = {}
for q in qs:
    p = os.path.join(d, q + ".json")
    if not os.path.exists(p):
        out[q] = {"missing": True}
        continue
    doc = json.load(open(p))
    det = doc.get("queries", {}).get(q, {})
    det["host_noisy"] = doc.get("host_noisy", False)
    det["probe_sec"] = doc.get("probe_sec", -1)
    out[q] = det
with open(os.path.join(d, "detail.json"), "w") as fh:
    json.dump(out, fh, indent=1)
print("[sf10] rep detail ->", os.path.join(d, "detail.json"))
EOF

# the tier's self-check: dump h01's bucket audit at this tier and
# assert the linear-class gen_pairs bounds (check_sf10_audit.py) —
# wall-clock says "slow", the audit says WHICH family went quadratic
echo "[sf10] h01 audit bounds ..." >&2
java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM -cp "$(cat /tmp/graft_cp.txt)" \
  graft.Verify "$SF" /tmp/graft_verify_sf10 h01_lsh_bucket_audit \
  2>/tmp/sf10_q_err.log >/dev/null
python3 scripts/check_sf10_audit.py /tmp/graft_verify_sf10/h01_lsh_bucket_audit
# the growth-exponent gate (r18 verdict task 4): a fitted exponent past
# its class bound is a RED exit, not a number someone has to notice.
# Red-teamed via `python3 scripts/check_growth.py --selftest`.
echo "[sf10] growth-exponent gate ..." >&2
python3 scripts/check_growth.py $GROWTH_MODE "$OUT"
echo "[sf10] done -> $OUT" >&2
