#!/bin/bash
# Fast single-query oracle check: scripts/check_one.sh q1,q2 [sfDir]
# Runs graft.Verify on this checkout's cached classpath
# (scripts/classpath.sh) instead of through sbt.
set -e
. "$(dirname "$0")/host_size.sh"
. "$(dirname "$0")/classpath.sh"
QS="$1"
SF="${2:-/root/testdata/sf0.01}"
OUT=/tmp/graft_one
java $ADD_OPENS -Xmx$SPARK_DRIVER_MEM \
  -cp "$CP" graft.Verify "$SF" "$OUT" "$QS"
python3 - "$QS" "$SF" "$OUT" <<'EOF'
import json, sys, os
import duckdb
qs, sf, out = sys.argv[1].split(','), sys.argv[2], sys.argv[3]
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    p = f"{sf}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
oracle = json.load(open(f"{out}/oracle_sql.json"))
fail = 0
for name in qs:
    got = con.sql(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").arrow()
    want = con.sql(oracle[name]).arrow()
    gcols, wcols = sorted(got.column_names), sorted(want.column_names)
    if gcols != wcols:
        print(f"FAIL {name}: COLS spark={gcols} oracle={wcols}"); fail = 1; continue
    if got.num_rows != want.num_rows:
        print(f"FAIL {name}: ROWS spark={got.num_rows} oracle={want.num_rows}"); fail = 1; continue
    sel = ", ".join(f'"{c}"' for c in gcols)
    con.register("_got", got); con.register("_want", want)
    gs = [str(t) for t in con.sql(f"SELECT {sel} FROM _got LIMIT 0").types]
    ws = [str(t) for t in con.sql(f"SELECT {sel} FROM _want LIMIT 0").types]
    note = "" if gs == ws else f" [SCHEMA spark={gs} oracle={ws}]"
    diff = con.sql(f"(SELECT {sel} FROM _got EXCEPT ALL SELECT {sel} FROM _want) UNION ALL (SELECT {sel} FROM _want EXCEPT ALL SELECT {sel} FROM _got)").arrow()
    if diff.num_rows == 0:
        print(f"PASS {name} ({got.num_rows} rows){note}")
    else:
        fail = 1
        ex = con.sql(f"SELECT {sel} FROM _got EXCEPT ALL SELECT {sel} FROM _want LIMIT 3").fetchall()
        ex2 = con.sql(f"SELECT {sel} FROM _want EXCEPT ALL SELECT {sel} FROM _got LIMIT 3").fetchall()
        print(f"FAIL {name}: {diff.num_rows} diff rows\n  spark_only={ex}\n  oracle_only={ex2}{note}")
    con.unregister("_got"); con.unregister("_want")
sys.exit(fail)
EOF
