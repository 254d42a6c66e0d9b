#!/usr/bin/env python3
"""Tests for check_bench_delta.py's total gate.

Run: python3 scripts/test_check_bench_delta.py
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "check_bench_delta.py")


def artifact(secs, sf="/data/sf0.1", cpus=4, probe=1.0):
    return {"ts": "t", "sf": sf, "cpus": cpus,
            "total_sec": sum(secs.values()), "probe_sec": probe,
            "queries": {q: {"sec": s, "ok": True, "reps": [s, s, s]}
                        for q, s in secs.items()}}


class TotalGateTest(unittest.TestCase):

    def run_delta(self, old, new):
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, doc in (("old.json", old), ("new.json", new)):
                path = os.path.join(d, name)
                with open(path, "w") as f:
                    json.dump(doc, f)
                paths.append(path)
            r = subprocess.run([sys.executable, SCRIPT] + paths,
                               capture_output=True, text=True)
        m = re.search(r"total ratio over shared queries .*: ([0-9.]+)",
                      r.stdout)
        return r.returncode, float(m.group(1)) if m else None, r.stdout

    def test_cutting_a_query_does_not_lower_the_ratio(self):
        # every shared query is 20% slower; the cut query's 10 s must not
        # hide that behind a smaller new total (24 s against 30 s)
        old = artifact({"a": 10.0, "b": 10.0, "c": 10.0})
        new = artifact({"a": 12.0, "b": 12.0})
        code, ratio, out = self.run_delta(old, new)
        self.assertAlmostEqual(ratio, 1.2, places=3)
        self.assertEqual(code, 1)
        self.assertIn("1 queries in only one artifact (1 old, 0 new)", out)

    def test_adding_a_query_does_not_raise_the_ratio(self):
        old = artifact({"a": 10.0, "b": 10.0})
        new = artifact({"a": 10.0, "b": 10.0, "d": 50.0})
        code, ratio, out = self.run_delta(old, new)
        self.assertAlmostEqual(ratio, 1.0, places=3)
        self.assertEqual(code, 0)
        self.assertIn("total=70.0s", out)

    def test_different_sf_or_cpus_is_refused(self):
        secs = {"a": 1.0}
        for other in (artifact(secs, sf="/data/sf1"), artifact(secs, cpus=8)):
            code, ratio, _ = self.run_delta(artifact(secs), other)
            self.assertEqual(code, 2)
            self.assertIsNone(ratio)


if __name__ == "__main__":
    unittest.main()
