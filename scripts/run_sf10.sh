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
. scripts/classpath.sh
SF=${SPARK_GRAFT_SF10_DIR:-/tmp/graft_sf10}
OUT=${1:-/tmp/sf10_results.jsonl}
shift || true

# regenerate when absent OR when the dir predates the r19 events tier /
# the r20 lineitem tier (each was a symlink then; both are scaled now)
if [ ! -f "$SF/documents.parquet" ] || [ -L "$SF/events.parquet" ] \
   || [ -L "$SF/lineitem.parquet" ]; then
  python3 scripts/make_sf10.py /root/testdata/sf0.1 "$SF"
fi

QUERIES=("$@")
if [ ${#QUERIES[@]} -eq 0 ]; then
  mapfile -t QUERIES < scripts/sf10_gated.txt
  GROWTH_MODE=""        # full default list -> completeness-checked gate
else
  GROWTH_MODE="--partial"  # explicit subset -> skip the expected-family check
fi

: > "$OUT"
# per-query full artifacts (every rep, the median, ok), so each
# reading carries its own spread, not just the stdout line's median
FULLDIR=${SPARK_GRAFT_SF10_FULL:-/tmp/sf10_full}
mkdir -p "$FULLDIR"
for q in "${QUERIES[@]}"; do
  echo "[sf10] $q ..." >&2
  SPARK_GRAFT_SF_DIR="$SF" \
  SPARK_GRAFT_BENCH_OUT="$FULLDIR/$q.json" \
  java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM -cp "$CP" \
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
java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM -cp "$CP" \
  graft.Verify "$SF" /tmp/graft_verify_sf10 h01_lsh_bucket_audit \
  2>/tmp/sf10_q_err.log >/dev/null
python3 scripts/check_sf10_audit.py /tmp/graft_verify_sf10/h01_lsh_bucket_audit
# the growth-exponent gate (r18 verdict task 4): a fitted exponent past
# its class bound is a RED exit, not a number someone has to notice.
# Red-teamed via `python3 scripts/check_growth.py --selftest`. The
# lower tiers are the sf0.1 and sf1 artifacts at THIS core count, named
# by Bench's (sf, cpus) path rule: readings taken at another core count
# do not belong on one growth curve.
echo "[sf10] growth-exponent gate ..." >&2
python3 scripts/check_growth.py $GROWTH_MODE \
  "BENCH_sf0.1.c$SPARK_GRAFT_CPUS.json" \
  "BENCH_$(basename "${SPARK_GRAFT_SF1_DIR:-/tmp/graft_sf1}").c$SPARK_GRAFT_CPUS.json" \
  "$OUT"
echo "[sf10] done -> $OUT" >&2
