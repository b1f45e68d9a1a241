"""Tests of the benchmark's own logic (no JVM needed):

    python3 perfbench/test_perfbench.py
"""

import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import plan  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_percentile_needs_ten_samples_beyond(self):
        xs = list(range(1, 201))  # 200 samples: p95 leaves exactly 10
        self.assertEqual(stats.percentile(xs, 95), 190)
        self.assertIsNone(stats.percentile(xs[:199], 95))
        self.assertIsNone(stats.percentile(xs, 99))

    def test_tail_is_highest_supported_percentile(self):
        self.assertEqual(stats.tail(list(range(1, 201))), (95.0, 190))
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))
        self.assertEqual(stats.tail(list(range(1, 21))), (50.0, 10))

    def test_tail_withheld_when_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertIsNone(stats.tail([]))

    def test_quartiles_match_statistics_module(self):
        self.assertEqual(stats.quartiles([1, 2, 3, 4, 5]), (1.5, 3, 4.5))


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for w in plan.WORKLOADS:
            self.assertEqual(plan.make_plan(w, 7, 10), plan.make_plan(w, 7, 10))

    def test_different_seed_different_inputs(self):
        a = plan.make_plan("served_ingest_dashboard", 1, 10)
        b = plan.make_plan("served_ingest_dashboard", 2, 10)
        self.assertNotEqual(a["writer"], b["writer"])
        self.assertNotEqual(a["readers"], b["readers"])
        orders = {json.dumps(plan.make_plan("operator_pipeline", s, 10)["passes"])
                  for s in range(10)}
        self.assertGreater(len(orders), 1)

    def test_seed_does_not_change_amount_of_work(self):
        def shape(p):
            return [(o["op"], len(o.get("rows", []))) for o in p["writer"]]
        a = plan.make_plan("served_ingest_dashboard", 1, 10)
        b = plan.make_plan("served_ingest_dashboard", 9, 10)
        self.assertEqual(shape(a), shape(b))
        self.assertIn("compact", [o["op"] for o in a["writer"]])
        self.assertIn("delete", [o["op"] for o in a["writer"]])

    def test_every_delete_matches_rows(self):
        p = plan.make_plan("served_ingest_dashboard", 3, 30)
        live = {}
        for o in p["writer"]:
            if o["op"] == "insert":
                live.update({r[0]: r for r in o["rows"]})
            elif o["op"] == "delete":
                gone = [i for i, r in live.items()
                        if r[1] == o["grp"] and r[2] < o["amount_lt"]]
                self.assertTrue(gone)
                for i in gone:
                    del live[i]


class MetricNames(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

    def setUp(self):
        with open(run.SPEC) as f:
            self.spec = json.load(f)

    def test_names_valid_and_unique(self):
        names = [m["name"] for k in ("end_to_end", "per_layer")
                 for m in self.spec[k]] + [w["name"] for w in self.spec["workloads"]]
        for n in names:
            self.assertRegex(n, self.NAME)
        self.assertEqual(len(names), len(set(names)))

    def test_workloads_have_plans(self):
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], plan.WORKLOADS)

    def test_setup_metric_and_bounds(self):
        e2e = {m["name"]: m for m in self.spec["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]),
                         ("s", "lower"))
        self.assertEqual(max(m["bound"] for m in e2e.values()),
                         e2e["setup_s"]["bound"])
        for m in e2e.values():
            self.assertTrue(0 < m["bound"] <= 0.25)

    def test_end_to_end_metrics_are_computed(self):
        result = {"ops": [{"kind": "a", "ms": 10.0, "ok": True, "in_window": True,
                           "client": "c"}],
                  "setup_s": [9.0, 3.0, 1.0, 2.0], "window_s": 2.0,
                  "heap_peak_mb": 5.0}
        e2e = run.end_to_end(result)
        self.assertEqual({m["name"] for m in self.spec["end_to_end"]} - set(e2e), set())
        self.assertEqual(e2e["setup_s"], 2.0)


class LayerDiff(unittest.TestCase):
    def test_moved_only_beyond_parent_spread(self):
        parent = [10.0, 11.0, 12.0, 13.0, 14.0]
        self.assertFalse(run.moved(parent, [11.0, 12.0, 13.0]))
        self.assertTrue(run.moved(parent, [20.0, 21.0, 22.0]))


if __name__ == "__main__":
    unittest.main()
