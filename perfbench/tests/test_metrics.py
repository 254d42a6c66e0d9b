"""Tests of the benchmark's own logic: run with
python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402
import workloads as W  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(M.tail_level(100), 90.0)      # 10 beyond p90
        self.assertEqual(M.tail_level(99), 80.0)       # 9.9 beyond p90 is too few
        self.assertEqual(M.tail_level(1000), 99.0)
        self.assertEqual(M.tail_level(10000), 99.9)
        self.assertEqual(M.tail_level(54), 80.0)       # one batch-suite pass
        self.assertIsNone(M.tail_level(49))

    def test_cap_limits_the_level(self):
        self.assertEqual(M.tail_level(100000, cap=99.0), 99.0)
        self.assertEqual(M.tail_level(100000, cap=95.0), 95.0)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(M.tail([3.0, 1.0, 2.0]), (100.0, 3.0))

    def test_percentile_interpolates(self):
        xs = list(range(101))
        self.assertEqual(M.percentile(xs, 90.0), 90.0)
        self.assertEqual(M.percentile([0.0, 10.0], 25.0), 2.5)
        self.assertEqual(M.tail([float(x) for x in range(100)]), (90.0, 89.1))


class OpenLoopLatency(unittest.TestCase):
    PLANES = ("control", "window", "bronze")

    def progress(self, *batches):
        return [{"batch": i, "end_offset": e, "commit": c} for i, (e, c) in enumerate(batches)]

    def test_latency_runs_from_due_time_and_a_stall_charges_later_events(self):
        # events due every 10 ms; the generator stalled, so the events due
        # at 20, 30 and 40 went out together at 45 ms
        bronze = 1 << 2
        sends = [
            {"due": [0.0, 10.0], "mask": [bronze, bronze], "offsets": {"bronze": 0}},
            {"due": [20.0, 30.0, 40.0], "mask": [bronze] * 3, "offsets": {"bronze": 1}},
        ]
        prog = {"bronze": self.progress((0, 15.0), (1, 60.0))}
        pooled, per_plane, missing, last = M.event_latencies(sends, prog, self.PLANES)
        self.assertEqual(pooled, [15.0, 5.0, 40.0, 30.0, 20.0])
        self.assertEqual(per_plane["bronze"], pooled)
        self.assertEqual((missing, last), (0, 60.0))

    def test_an_event_is_done_when_its_slowest_plane_commits(self):
        both = (1 << 1) | (1 << 2)
        sends = [{"due": [0.0], "mask": [both], "offsets": {"window": 0, "bronze": 0}}]
        prog = {"window": self.progress((0, 70.0)), "bronze": self.progress((0, 30.0))}
        pooled, per_plane, _, _ = M.event_latencies(sends, prog, self.PLANES)
        self.assertEqual(pooled, [70.0])
        self.assertEqual((per_plane["window"], per_plane["bronze"]), ([70.0], [30.0]))

    def test_uncommitted_events_are_missing(self):
        sends = [{"due": [0.0, 1.0], "mask": [4, 4], "offsets": {"bronze": 3}}]
        prog = {"bronze": self.progress((2, 10.0))}
        pooled, _, missing, _ = M.event_latencies(sends, prog, self.PLANES)
        self.assertEqual((pooled, missing), ([], 2))

    def test_a_no_data_batch_does_not_move_the_commit_time(self):
        c = M.Commits(self.progress((0, 10.0), (0, 20.0), (1, 30.0)))
        self.assertEqual((c.of(0), c.of(1), c.of(2)), (10.0, 30.0, None))

    def test_backlog_counts_due_but_uncommitted_events(self):
        sends = [{"due": [0.0, 10.0], "mask": [4, 4], "offsets": {"bronze": 0}},
                 {"due": [20.0, 30.0], "mask": [4, 4], "offsets": {"bronze": 1}}]
        # at 35 ms four events were due and only the first two committed
        prog = self.progress((0, 35.0), (1, 50.0))
        self.assertEqual(M.backlog_max(sends, prog, 4, "bronze"), 2)


class SelfTime(unittest.TestCase):
    def test_self_time_is_duration_minus_time_children_cover(self):
        spans = [
            {"id": "q", "parent": "", "start": 0.0, "end": 100.0},
            {"id": "a", "parent": "q", "start": 10.0, "end": 30.0},
            {"id": "b", "parent": "q", "start": 20.0, "end": 50.0},   # overlaps a
            {"id": "c", "parent": "q", "start": 80.0, "end": 120.0},  # clipped at 100
            {"id": "d", "parent": "a", "start": 12.0, "end": 18.0},
        ]
        own = M.self_times(spans)
        self.assertEqual(own["q"], 100.0 - 40.0 - 20.0)
        self.assertEqual(own["a"], 20.0 - 6.0)
        self.assertEqual((own["b"], own["c"], own["d"]), (30.0, 40.0, 6.0))


class QueryModules(unittest.TestCase):
    def test_every_batch_query_has_a_module(self):
        queries = W.MEDALLION + W.CURATION
        self.assertEqual(len(queries), len(set(queries)))
        for q in queries:
            self.assertIn(W.module_of(q), W.MODULES, q)

    def test_every_module_has_a_query(self):
        used = {W.module_of(q) for q in W.MEDALLION + W.CURATION}
        self.assertEqual(used, set(W.MODULES))

    def test_medallion_and_curation_modules_do_not_mix(self):
        med = {W.module_of(q) for q in W.MEDALLION}
        cur = {W.module_of(q) for q in W.CURATION}
        self.assertEqual(med, {"ops", "silver", "gold", "queries"})
        self.assertEqual(cur, {"dedup", "similarity", "text"})


class BenchmarkFile(unittest.TestCase):
    ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    def test_benchmark_json_matches_the_workload_definitions(self):
        import json
        with open(os.path.join(self.ROOT, "BENCHMARK.json")) as f:
            self.assertEqual(json.load(f), W.benchmark_json())

    def test_metric_names_and_units_are_well_formed(self):
        d = W.benchmark_json()
        names = [m["name"] for m in d["end_to_end"] + d["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(d["per_layer"]), 128)
        for m in d["end_to_end"] + d["per_layer"]:
            self.assertRegex(m["name"], r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
        self.assertIn(("setup_s", "s"), [(m["name"], m["unit"]) for m in d["end_to_end"]])
        self.assertEqual(max(m["bound"] for m in d["end_to_end"]),
                         [m["bound"] for m in d["end_to_end"] if m["name"] == "setup_s"][0])


if __name__ == "__main__":
    unittest.main()
