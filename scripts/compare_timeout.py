#!/usr/bin/env python3
"""Per-query oracle compare with a hard timeout — the sf1-tier runner.

Usage: python3 scripts/compare_timeout.py [--only q1,q2] <sfDir> <outDir> [timeoutSec] [jobs]

The per-query compare is scripts/compare.py's `compare_query`, with
its verdicts and pass rule (a verdict starting with "OK" passes), but
each query's oracle runs in its OWN killable subprocess with a hard
timeout. Each child's DuckDB gets max(1, cpus // jobs) threads, cpus
by the scripts/host_size.sh rule. At sf1 a handful of DuckDB
oracle replays are orders of magnitude slower than the Spark side (the
oracle is a single-node semantic spec, not an engine); a TIMEOUT row
records "oracle too slow at this SF", which is a different statement
from a mismatch and must not wedge the whole gate. Requires Verify
output to exist at <outDir> (run graft.Verify first)."""
import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

from compare import compare_query, connect


def run_one(name, sf, out, threads):
    """Executed in the child: compare one query, print the verdict."""
    con = connect(sf)
    con.sql(f"SET threads={threads}")
    sql = json.load(open(f"{out}/oracle_sql.json"))[name]
    print(compare_query(con, f"{out}/{name}", sql))


def main():
    if sys.argv[1] == "--one":
        run_one(*sys.argv[2:5], int(sys.argv[5]))
        return
    argv = sys.argv[1:]
    only = None
    if argv and argv[0] == "--only":  # --only q1,q2: filtered runs
        only = set(argv[1].split(","))
        argv = argv[2:]
    sf = argv[0]
    out = argv[1]
    timeout = int(argv[2]) if len(argv) > 2 else 600
    jobs = int(argv[3]) if len(argv) > 3 else 4
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or
               len(os.sched_getaffinity(0)))
    threads = max(1, cpus // jobs)
    names = sorted(json.load(open(f"{out}/oracle_sql.json")))
    if only is not None:
        missing = only - set(names)
        if missing:
            sys.exit(f"--only names not in oracle_sql.json: {sorted(missing)}")
        names = [n for n in names if n in only]

    def child(name):
        try:
            r = subprocess.run(
                [sys.executable, __file__, "--one", name, sf, out, str(threads)],
                capture_output=True, text=True, timeout=timeout)
            v = (r.stdout.strip().splitlines() or ["NO_OUTPUT"])[-1]
            if r.returncode != 0 and v == "NO_OUTPUT":
                v = f"CRASHED: {r.stderr[-150:]}"
            return name, v
        except subprocess.TimeoutExpired:
            return name, f"ORACLE_TIMEOUT >{timeout}s"

    with ThreadPoolExecutor(max_workers=jobs) as ex:
        results = dict(ex.map(child, names))
    npass = sum(1 for v in results.values() if v.startswith("OK"))
    for name in sorted(results):
        tag = "PASS" if results[name].startswith("OK") else "FAIL"
        print(f"{tag} {name}: {results[name]}")
    print(f"\n{npass}/{len(results)} queries match at {sf}")
    # a filtered run must not clobber a full-suite record
    rec = "compare_results.json" if only is None else "compare_results.partial.json"
    json.dump({"sf": sf, "pass": npass, "total": len(results),
               "results": results},
              open(f"{out}/{rec}", "w"), indent=1)
    sys.exit(0 if npass == len(results) else 1)


if __name__ == "__main__":
    main()
