#!/usr/bin/env python3
"""Per-family growth exponents across the sf0.1 / sf1 / sf10 decades.

Usage: python3 scripts/growth_exponents.py SF0.1.json SF1.json SF10.json
  e.g. the committed history: BENCH_LOCAL.json BENCH_SF1.json BENCH_SF10.json

Reads one Bench artifact per tier, and prints per-query wall-clock growth
ratios and the fitted exponent b in t = a * n^b (least squares over
log-log across the three tiers). Compute seconds only (the `sec`
field) — the repartition(1) result dump is Verify plumbing, not plan
cost (see PLANS.md r17 compute/dump split).

An exponent near 0 is fixed-overhead-dominated (the query is too fast
for the tier to move it); near 1 is linear scaling; near 2 is the
quadratic failure mode the banded designs exist to avoid.
"""
import json
import math
import sys

if len(sys.argv) != 4:
    sys.exit("usage: growth_exponents.py SF0.1.json SF1.json SF10.json")
tiers = list(zip((0.1, 1.0, 10.0), sys.argv[1:]))
data = []
for sf, f in tiers:
    with open(f) as fh:
        doc = json.load(fh)
    if "queries" in doc:  # full Bench artifact (BENCH_LOCAL/SF1 shape)
        data.append((sf, doc["queries"]))
    else:  # the committed BENCH_SF10.json: per-phase spot-tier maps
        merged = {}
        for key in ("queries_before_fix", "queries_after_fix",
                    "queries_completeness_sweep"):
            merged.update(doc.get(key, {}))
        data.append((sf, merged))

names = sorted(set(data[-1][1]))
print(f"{'query':28s} {'sf0.1':>7s} {'sf1':>7s} {'sf10':>7s} "
      f"{'r01':>6s} {'r12':>6s} {'exp':>5s}")
for n in names:
    secs = [qs.get(n, {}).get("sec") for _, qs in data]
    if any(s is None for s in secs):
        print(f"{n:28s} missing tier")
        continue
    xs = [math.log10(sf) for sf, _ in data]
    ys = [math.log10(s) for s in secs]
    mx, my = sum(xs) / 3, sum(ys) / 3
    b = (sum((x - mx) * (y - my) for x, y in zip(xs, ys))
         / sum((x - mx) ** 2 for x in xs))
    print(f"{n:28s} {secs[0]:7.2f} {secs[1]:7.2f} {secs[2]:7.2f} "
          f"{secs[1]/secs[0]:5.1f}x {secs[2]/secs[1]:5.1f}x {b:5.2f}")
