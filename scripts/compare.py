#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 scripts/compare.py [sfDir] [outDir]

1. Runs graft.Verify via sbt at sfDir (default /root/testdata/sf0.01),
   producing outDir/<name>/ parquet + outDir/oracle_sql.json.
2. Registers the sfDir parquet tables in DuckDB, runs each oracle SQL.
3. Canonicalizes both results (columns sorted by name, rows sorted by all
   columns) and compares values + schema; reports per-query verdicts.

`connect` and `compare_query` are the one per-query compare; the sf1
runner (compare_timeout.py) imports them.
"""
import json, os, subprocess, sys

import duckdb

# the checkout this script belongs to (scripts/..), wherever it lives
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def connect(sf_dir):
    """An in-memory DuckDB with a view per parquet table under sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare_query(con, spark_dir, sql):
    """Verdict for one query: Spark's parquet output in spark_dir against
    the oracle SQL run on con. A verdict starting with "OK" passes; a
    type-only schema difference is a note on an OK, not a failure."""
    if not os.path.isdir(spark_dir):
        return "SPARK_FAILED (no output dir)"
    try:
        got = con.sql(f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").arrow()
    except Exception as e:
        return f"SPARK_READ_FAILED: {e}"
    try:
        want = con.sql(sql).arrow()
    except Exception as e:
        return f"ORACLE_FAILED: {str(e)[:200]}"

    gcols, wcols = sorted(got.column_names), sorted(want.column_names)
    if gcols != wcols:
        return f"COLS_MISMATCH spark={gcols} oracle={wcols}"
    if got.num_rows != want.num_rows:
        return f"ROWS_MISMATCH spark={got.num_rows} oracle={want.num_rows}"

    sel = ", ".join(f'"{c}"' for c in gcols)
    con.register("_got", got)
    con.register("_want", want)
    try:
        # schema comparison after canonical column order
        gs = [str(t) for t in con.sql(f"SELECT {sel} FROM _got LIMIT 0").types]
        ws = [str(t) for t in con.sql(f"SELECT {sel} FROM _want LIMIT 0").types]
        schema_note = "" if gs == ws else f" [SCHEMA: spark={gs} oracle={ws}]"
        diff = con.sql(
            f"(SELECT {sel} FROM _got EXCEPT ALL SELECT {sel} FROM _want) "
            f"UNION ALL "
            f"(SELECT {sel} FROM _want EXCEPT ALL SELECT {sel} FROM _got)").arrow()
        if diff.num_rows == 0:
            return "OK" + schema_note
        ex = con.sql(
            f"SELECT {sel} FROM _got EXCEPT ALL SELECT {sel} FROM _want LIMIT 3").fetchall()
        ex2 = con.sql(
            f"SELECT {sel} FROM _want EXCEPT ALL SELECT {sel} FROM _got LIMIT 3").fetchall()
        return (f"VALUES_MISMATCH {diff.num_rows} differing rows"
                f" spark_only={ex} oracle_only={ex2}{schema_note}")
    finally:
        con.unregister("_got")
        con.unregister("_want")


def run_verify(sf_dir, out):
    """Run graft.Verify in this checkout; exit 1 if it fails."""
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
        cmd = ["java"] + opts + ["-cp", cp, "graft.Verify", sf_dir, out]
    else:
        cmd = ["sbt", "-batch", f'runMain graft.Verify {sf_dir} {out}']
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=CHECKOUT)
    sys.stdout.write(r.stdout[-3000:] if len(r.stdout) > 3000 else r.stdout)
    if r.returncode != 0:
        print(r.stderr[-3000:])
        sys.exit(1)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    if os.environ.get("SKIP_SBT") != "1":
        run_verify(sf_dir, out)

    con = connect(sf_dir)
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    results = {name: compare_query(con, f"{out}/{name}", sql)
               for name, sql in sorted(oracle.items())}

    ok = sum(1 for v in results.values() if v.startswith("OK"))
    for name, v in sorted(results.items()):
        print(f"{'PASS' if v.startswith('OK') else 'FAIL'} {name}: {v}")
    print(f"\n{ok}/{len(results)} queries match at {sf_dir}")
    sys.exit(0 if ok == len(results) else 2)


if __name__ == "__main__":
    main()
