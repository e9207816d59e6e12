"""Unit tests of the benchmark's own logic; no JVM needed.

    python3 -m unittest discover -s bench/tests
"""
import os
import statistics
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles_match_statistics_module(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
        self.assertEqual(stats.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))
        self.assertEqual(stats.quartiles(xs)[1], 3.5)

    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)

    def test_p90_needs_ten_samples_above_it(self):
        few = [float(i) for i in range(60)]
        v, n, ok = stats.tail(few, 90)
        self.assertEqual(n, stats.beyond(few, v))
        self.assertLess(n, 10)
        self.assertFalse(ok)
        many = [float(i) for i in range(110)]
        v, n, ok = stats.tail(many, 90)
        self.assertGreaterEqual(n, 10)
        self.assertTrue(ok)

    def test_ties_at_the_percentile_do_not_count_as_above(self):
        xs = [1.0] * 95 + [2.0] * 5
        v, n, ok = stats.tail(xs, 90)
        self.assertEqual(v, 1.0)
        self.assertEqual(n, 5)
        self.assertFalse(ok)


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(layers.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(layers.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(layers.union_length([]), 0)

    def test_self_time_subtracts_covered_part_once(self):
        span = {"start": 0, "end": 10}
        kids = [{"start": 1, "end": 4}, {"start": 3, "end": 5},
                {"start": 9, "end": 12}]
        self.assertEqual(layers.self_time(span, kids), 10 - 4 - 1)
        self.assertEqual(layers.self_time(span, []), 10)

    def test_query_breakdown_accounts_for_wall_time(self):
        s = {"start_ms": 0, "end_ms": 1000, "construct_ms": 600,
             "execute_ms": 400, "construct_end_ms": 600,
             "streaming": {"trigger_ms": 300, "add_batch_ms": 200},
             "jobs": [
                 {"label": "maintain", "start_ms": 100, "end_ms": 300, "tasks": 4},
                 {"label": "", "start_ms": 700, "end_ms": 900, "tasks": 2},
             ]}
        b = layers.query_breakdown(s)
        self.assertAlmostEqual(b["job_s"], 0.4)
        self.assertAlmostEqual(b["driver_gap_s"], 0.6)
        self.assertAlmostEqual(b["label_s"]["maintain"], 0.2)
        self.assertAlmostEqual(b["streaming_machinery_s"], 0.1)
        self.assertEqual(b["label_tasks"], {"maintain": 4, "(unlabelled)": 2})
        self.assertAlmostEqual(b["accounted_share"], 1.0)

    def test_labels_drop_run_ids_and_paths(self):
        self.assertEqual(layers.label_of(""), layers.UNLABELLED)
        self.assertEqual(layers.label_of(
            "\nid = 7441c0ec-2396\nrunId = 600d38db-6a54\nbatch = 0"), "stream batch")
        self.assertEqual(layers.label_of("compact: /tmp/graft_x123/revseg_rollup"),
                         "compact: revseg_rollup")
        self.assertEqual(layers.label_of("mjr:lineitem append partial block"),
                         "mjr:lineitem append partial block")
        self.assertEqual(layers.metric_name("mjr:lineitem append"), "mjr")
        self.assertEqual(layers.metric_name("stream batch"), "stream_batch")

    def test_span_tree_self_times_per_kind(self):
        res = {"measure_start_ms": 0, "measure_end_ms": 100,
               "passes": [{"pass": 0, "traced": False, "start_ms": 0, "end_ms": 40},
                          {"pass": 1, "traced": True, "start_ms": 50, "end_ms": 100}],
               "samples": [
                   {"pass": 0, "traced": False, "name": "a", "start_ms": 0,
                    "end_ms": 40, "construct_end_ms": 10},
                   {"pass": 1, "traced": True, "name": "a", "start_ms": 55,
                    "end_ms": 95, "construct_end_ms": 65,
                    "catalyst_ms": {"analysis": 1}, "rules": {},
                    "jobs": [{"label": "x", "start_ms": 70, "end_ms": 90}]}]}
        sp = layers.spans(res)
        kinds = [s["kind"] for s in sp]
        self.assertEqual(kinds.count("job"), 1)
        job = next(s for s in sp if s["kind"] == "job")
        execute = next(s for s in sp if s["id"] == job["parent"])
        self.assertEqual(execute["kind"], "execute")
        traced_query = next(s for s in sp if s["id"] == execute["parent"])
        self.assertEqual(traced_query["catalyst_ms"], {"analysis": 1})
        t = layers.self_times(sp, {"pass1"})
        self.assertAlmostEqual(t["pass"], 0.010)
        self.assertAlmostEqual(t["query"], 0.0)
        self.assertAlmostEqual(t["construct"], 0.010)
        self.assertAlmostEqual(t["execute"], 0.010)
        self.assertAlmostEqual(t["job"], 0.020)
        self.assertNotIn("run", t)


class SelectionTest(unittest.TestCase):
    CATALOG = ["q14_point_lookup", "q140_something", "q141_other",
               "q01_daily_rollup"]

    def test_exact_names_only(self):
        self.assertEqual(workloads.select(["q14_point_lookup"], self.CATALOG),
                         ["q14_point_lookup"])

    def test_prefix_is_not_a_match(self):
        with self.assertRaisesRegex(ValueError, "unknown query names: q14"):
            workloads.select(["q14"], self.CATALOG)

    def test_unknown_name_fails_loudly(self):
        with self.assertRaisesRegex(ValueError, "q999_nope"):
            workloads.select(["q01_daily_rollup", "q999_nope"], self.CATALOG)

    def test_repeated_name_fails(self):
        with self.assertRaises(ValueError):
            workloads.select(["q01_daily_rollup"] * 2, self.CATALOG)

    def test_seed_only_permutes_order(self):
        names = workloads.WORKLOADS["dashboard"]
        a = workloads.pass_orders(names, 7, 5)
        self.assertEqual(a, workloads.pass_orders(names, 7, 5))
        self.assertNotEqual(a, workloads.pass_orders(names, 8, 5))
        for order in a:
            self.assertEqual(sorted(order), sorted(names))


if __name__ == "__main__":
    unittest.main()
