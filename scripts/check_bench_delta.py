#!/usr/bin/env python3
"""Probe-normalized round-over-round bench comparison (r19 verdict
task 2: make the reference-probe normalization LOAD-BEARING instead of
a number a human has to remember to divide by).

Usage: python3 scripts/check_bench_delta.py OLD.json NEW.json [--top N]
       python3 scripts/check_bench_delta.py --git-prev NEW.json

Both inputs are Bench artifacts (total_sec, probe_sec, sf, cpus,
queries{name:{sec, ok, reps[]}}). --git-prev reads the committed
version of NEW's path from git HEAD as OLD — the one-command wiring for
"did this round regress against what's committed?".

Artifacts of different (sf, cpus) are refused with exit 2: the probe
divides out host-speed drift, not a different tier or core count.

Normalization: each artifact's totals and per-query seconds are
divided by ITS OWN probe_sec (the fixed 640M-row xxhash64 reference
workload), so ambient host-speed drift between the two runs divides
out — the exact failure mode of r18, where 89% of queries read ~1.22x
slower including untouched code. Artifacts predating the probe
(r18 and earlier) lack probe_sec; the comparison then falls back to
raw seconds and says so.

The total ratio sums only the queries both artifacts hold, so a query
cut from (or added to) the suite cannot ease (or trip) the total gate;
both raw totals and the count of queries in only one artifact are
printed next to it.

Verdicts:
  - TOTAL normalized ratio > 1.15 (shared
    queries only)                           -> FAIL (exit 1)
  - any query normalized ratio > 2.0 with
    >= 1 s absolute growth and outside both
    artifacts' rep spreads (median/fastest) -> FAIL (exit 1)
  - otherwise                               -> PASS (exit 0)

On FAIL the prescribed escalation is the PLANS.md r19 paired A/B:
check out the old bench HEAD in a worktree, interleave old/new runs
A/B/A/B x 4 on a steal-clean host, and attribute the delta to changed
queries' declared algorithmic cost vs host drift before accepting any
reading. A failed delta gate is a reason to MEASURE, not a reason to
re-run until it passes.
"""
import json
import os
import subprocess
import sys


def spread(q):
    """The reported median over the fastest rep: the old harness's
    default-policy spread (second-fastest over fastest at 3 reps)."""
    reps = q.get("reps")
    if isinstance(reps, list):
        s = sorted(reps)
        return s[len(s) // 2] / max(s[0], 1e-9)
    return q.get("spread", 1.0)  # artifacts from before reps were lists


def load(text):
    doc = json.loads(text)
    qs = doc.get("queries", {})
    return {
        "total": float(doc.get("total_sec", sum(v["sec"] for v in qs.values()))),
        "probe": float(doc.get("probe_sec", -1)),
        "sf": os.path.basename(os.path.normpath(doc.get("sf", "?"))),
        "cpus": doc.get("cpus", "?"),
        "qs": {k: v["sec"] for k, v in qs.items()},
        "spreads": {k: spread(v) for k, v in qs.items()},
        "ts": doc.get("ts", "?"),
    }


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    top = 8
    if "--top" in sys.argv:
        top = int(sys.argv[sys.argv.index("--top") + 1])
        args = [a for a in args if a != str(top)]
    if "--git-prev" in sys.argv:
        if len(args) != 1:
            print("usage: check_bench_delta.py --git-prev NEW.json",
                  file=sys.stderr)
            sys.exit(2)
        new_path = args[0]
        old = load(subprocess.run(
            ["git", "show", f"HEAD:{new_path}"],
            capture_output=True, text=True, check=True).stdout)
        old_name, new_name = f"HEAD:{new_path}", new_path
    else:
        if len(args) != 2:
            print("usage: check_bench_delta.py OLD.json NEW.json [--top N]\n"
                  "       check_bench_delta.py --git-prev NEW.json",
                  file=sys.stderr)
            sys.exit(2)
        old = load(open(args[0]).read())
        old_name, new_name = args
    new = load(open(new_name).read())

    if (old["sf"], old["cpus"]) != (new["sf"], new["cpus"]):
        print(f"REFUSED: {old_name} is sf={old['sf']} cpus={old['cpus']}, "
              f"{new_name} is sf={new['sf']} cpus={new['cpus']}; the probe "
              "cannot normalize a different tier or core count",
              file=sys.stderr)
        sys.exit(2)

    normalized = old["probe"] > 0 and new["probe"] > 0
    op = old["probe"] if normalized else 1.0
    np_ = new["probe"] if normalized else 1.0
    mode = ("probe-normalized" if normalized
            else "RAW (probe_sec missing in at least one artifact — "
                 "pre-r19 shape)")
    print(f"old: {old_name} ts={old['ts']} total={old['total']:.1f}s "
          f"probe={old['probe']:.3f}")
    print(f"new: {new_name} ts={new['ts']} total={new['total']:.1f}s "
          f"probe={new['probe']:.3f}")
    common = set(old["qs"]) & set(new["qs"])
    if not common:
        print("REFUSED: the two artifacts share no query", file=sys.stderr)
        sys.exit(2)
    only_old = sorted(set(old["qs"]) - common)
    only_new = sorted(set(new["qs"]) - common)
    old_shared = sum(old["qs"][q] for q in common)
    new_shared = sum(new["qs"][q] for q in common)
    print(f"shared: {len(common)} queries, total {old_shared:.1f}s -> "
          f"{new_shared:.1f}s; {len(only_old) + len(only_new)} queries in "
          f"only one artifact ({len(only_old)} old, {len(only_new)} new)")
    ratio = (new_shared / np_) / (old_shared / op)
    print(f"total ratio over shared queries ({mode}): {ratio:.3f}  "
          f"[{old_shared / op:.1f} -> {new_shared / np_:.1f}]")

    fail = ratio > 1.15
    if fail:
        print(f"FAIL total: normalized ratio {ratio:.3f} > 1.15")

    shared = sorted(common, key=lambda q: (new["qs"][q] / np_)
                    / max(old["qs"][q] / op, 1e-9), reverse=True)
    missing = only_old + only_new
    if missing:
        print(f"note: {len(missing)} queries in only one artifact: "
              f"{', '.join(missing[:6])}{'...' if len(missing) > 6 else ''}")
    print(f"top {top} movers (normalized new/old):")
    for q in shared[:top]:
        o = old["qs"][q] / op
        n = new["qs"][q] / np_
        r = n / max(o, 1e-9)
        spread = max(old["spreads"].get(q, 1.0), new["spreads"].get(q, 1.0))
        # a >=2x move that grew by >=1s (normalized) and exceeds both
        # runs' recorded rep spreads is a per-query regression verdict
        bad = r > 2.0 and (n - o) * np_ >= 1.0 and r > spread
        print(f"  {'FAIL' if bad else '    '} {q}: {r:5.2f}x "
              f"({o:.2f} -> {n:.2f}, spread<={spread:.2f})")
        fail |= bad
    if fail:
        print("escalation: run the PLANS.md r19 paired A/B (old bench HEAD "
              "in a worktree, A/B/A/B x 4, steal-clean) before accepting "
              "either reading — do NOT just re-run until green")
    print("VERDICT:", "FAIL" if fail else "PASS")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
