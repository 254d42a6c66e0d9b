#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 scripts/compare.py [sfDir] [outDir]

1. Runs graft.Verify via sbt at sfDir (default /root/testdata/sf0.01),
   producing outDir/<name>/ parquet + outDir/oracle_sql.json.
2. Registers the sfDir parquet tables in DuckDB, runs each oracle SQL.
3. Canonicalizes both results (columns sorted by name, rows sorted by all
   columns) and compares values + schema; reports per-query verdicts.
"""
import json, os, subprocess, sys

import duckdb
import pyarrow.parquet as pq

# the checkout this script belongs to (scripts/..), wherever it lives
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SKIP_SBT = os.environ.get("SKIP_SBT") == "1"

if not SKIP_SBT:
    # When the caller (the `sbt adversarial` task) exports the build's
    # classpath, run graft.Verify via plain `java`: a nested sbt would
    # deadlock on the project lock the parent task holds, and each sweep
    # would pay an sbt startup besides.
    cp = os.environ.get("GRAFT_JAVA_CP")
    if cp:
        # newline-delimited by the sbt task (one option per line) so an
        # option containing a space isn't mangled; whitespace-only lines
        # are dropped, not passed as empty argv entries
        opts = [o for o in os.environ.get("GRAFT_JAVA_OPTS", "").split("\n")
                if o.strip()]
        cmd = ["java"] + opts + ["-cp", cp, "graft.Verify", SF_DIR, OUT]
    else:
        cmd = ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT}']
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=CHECKOUT)
    sys.stdout.write(r.stdout[-3000:] if len(r.stdout) > 3000 else r.stdout)
    if r.returncode != 0:
        print(r.stderr[-3000:])
        sys.exit(1)

con = duckdb.connect()
for t in TABLES:
    p = f"{SF_DIR}/{t}.parquet"
    if os.path.exists(p):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
results = {}
for name, sql in sorted(oracle.items()):
    spark_dir = f"{OUT}/{name}"
    if not os.path.isdir(spark_dir):
        results[name] = "SPARK_FAILED (no output dir)"
        continue
    try:
        got = con.sql(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").arrow()
    except Exception as e:
        results[name] = f"SPARK_READ_FAILED: {e}"
        continue
    try:
        want = con.sql(sql).arrow()
    except Exception as e:
        results[name] = f"ORACLE_FAILED: {str(e)[:200]}"
        continue

    gcols, wcols = sorted(got.column_names), sorted(want.column_names)
    if gcols != wcols:
        results[name] = f"COLS_MISMATCH spark={gcols} oracle={wcols}"
        continue
    if got.num_rows != want.num_rows:
        results[name] = f"ROWS_MISMATCH spark={got.num_rows} oracle={want.num_rows}"
        continue

    order = ", ".join(f'"{c}"' for c in gcols)
    sel = ", ".join(f'"{c}"' for c in gcols)
    con.register("_got", got)
    con.register("_want", want)
    # schema comparison after canonical column order
    gs = con.sql(f"SELECT {sel} FROM _got LIMIT 0").types
    ws = con.sql(f"SELECT {sel} FROM _want LIMIT 0").types
    schema_note = "" if [str(t) for t in gs] == [str(t) for t in ws] else \
        f" [SCHEMA: spark={[str(t) for t in gs]} oracle={[str(t) for t in ws]}]"
    diff = con.sql(
        f"(SELECT {sel} FROM _got EXCEPT ALL SELECT {sel} FROM _want) "
        f"UNION ALL "
        f"(SELECT {sel} FROM _want EXCEPT ALL SELECT {sel} FROM _got)").arrow()
    if diff.num_rows == 0:
        results[name] = "OK" + schema_note
    else:
        ex = con.sql(
            f"SELECT {sel} FROM _got EXCEPT ALL SELECT {sel} FROM _want LIMIT 3").fetchall()
        ex2 = con.sql(
            f"SELECT {sel} FROM _want EXCEPT ALL SELECT {sel} FROM _got LIMIT 3").fetchall()
        results[name] = (f"VALUES_MISMATCH {diff.num_rows} differing rows"
                         f" spark_only={ex} oracle_only={ex2}{schema_note}")
    con.unregister("_got")
    con.unregister("_want")

ok = sum(1 for v in results.values() if v.startswith("OK"))
for name, v in sorted(results.items()):
    print(f"{'PASS' if v.startswith('OK') else 'FAIL'} {name}: {v}")
print(f"\n{ok}/{len(results)} queries match at {SF_DIR}")
sys.exit(0 if ok == len(results) else 2)
