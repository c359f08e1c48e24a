"""Unit tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import math
import os
import unittest

import metrics
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def raw_pass(samples):
    return {"wall_s": sum(max(s, 0) for s in samples.values()), "cpu_s": 1.0,
            "samples": samples}


def raw_run(passes, check, setup=2.0, rss=900.0, warm=None):
    return {"setup_s": setup, "rss_peak_mb": rss, "check": check, "errors": {},
            "layers": {}, "warm": raw_pass(warm or {}),
            "passes": [raw_pass(p) for p in passes]}


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        v, p, beyond = metrics.tail(xs)
        self.assertEqual((v, p, beyond), (90, 90.0, 10))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_records_percentile_and_count(self):
        v, p, beyond = metrics.tail([float(i) for i in range(1, 61)])  # 60 samples
        self.assertEqual((v, beyond), (50.0, 10))
        self.assertAlmostEqual(p, 100 * 50 / 60)

    def test_highest_qualifying_percentile(self):
        # one rank higher would leave only 9 samples beyond
        for n in (11, 24, 36, 60, 1000):
            v, p, beyond = metrics.tail(list(range(n)))
            self.assertEqual(sum(1 for x in range(n) if x > v), 10, n)
            self.assertEqual(p, 100.0 * (n - 10) / n)

    def test_too_few_samples_gives_max(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(metrics.tail(list(range(10))), (9, 100.0, 0))

    def test_order_insensitive(self):
        xs = [float((i * 37) % 101) for i in range(101)]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class AggregateTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(metrics.geomean([0.1, 10.0, 1.0]), 1.0)
        with self.assertRaises(ValueError):
            metrics.geomean([1.0, 0.0])

    def test_geomean_of_per_query_medians(self):
        passes = [{"a": 1.0, "b": 4.0}, {"a": 1.0, "b": 4.0}, {"a": 100.0, "b": 4.0}]
        res, _ = metrics.summarize(raw_run(passes, {"a": [1, 2, 3], "b": [4, 5, 6]}),
                                   {"a": [1, 2, 3], "b": [4, 5, 6]}, traced=False)
        self.assertAlmostEqual(res["metrics"]["query_geomean_s"]["value"], 2.0)

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)


class FailureAccountingTest(unittest.TestCase):
    refs = {"a": [10, 1, 2], "b": [20, 3, 4], "c": [30, 5, 6]}

    def test_clean_run(self):
        passes = [{"a": 1.0, "b": 2.0, "c": 3.0}] * 2
        res, st = metrics.summarize(raw_run(passes, dict(self.refs)), self.refs, False)
        self.assertTrue(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (9, 0))
        self.assertEqual(st["failed_frac"], 0.0)

    def test_mismatch_and_exceptions_count(self):
        check = {"a": [10, 1, 2], "b": [20, 3, 999], "c": None}
        passes = [{"a": 1.0, "b": 2.0, "c": -1.0}, {"a": 1.0, "b": 2.0, "c": -1.0}]
        res, st = metrics.summarize(raw_run(passes, check), self.refs, False)
        # 3 checked + 6 timed executions; b wrong, c raised in the check
        # pass and in both timed passes
        self.assertEqual(res["attempted"], 9)
        self.assertEqual(res["failed"], 4)
        self.assertFalse(res["correct"])
        self.assertAlmostEqual(st["failed_frac"], 4 / 9)
        self.assertEqual(st["wrong_outputs"], ["b", "c"])

    def test_warm_pass_counts_but_is_not_timed(self):
        check = dict(self.refs)
        passes = [{"a": 1.0, "b": 2.0, "c": 3.0}]
        warm = {"a": 50.0, "b": 50.0, "c": -1.0}  # c raised in the warm pass
        res, st = metrics.summarize(raw_run(passes, check, warm=warm), self.refs, False)
        self.assertEqual((res["attempted"], res["failed"]), (9, 1))
        self.assertFalse(res["correct"])
        self.assertEqual(res["metrics"]["query_p50_s"]["value"], 2.0)
        self.assertEqual(st["samples"], 3)

    def test_missing_reference_is_a_failure(self):
        res, _ = metrics.summarize(raw_run([{"a": 1.0}], {"a": [1, 1, 1]}), {}, False)
        self.assertEqual(res["failed"], 1)

    def test_serve_check_uses_query_reference(self):
        passes = [{"a": 1.0}]
        check = {"a": [10, 1, 2], "a@serve": [10, 1, 2]}
        res, _ = metrics.summarize(raw_run(passes, check), self.refs, False)
        self.assertEqual((res["attempted"], res["failed"]), (3, 0))
        check["a@serve"] = [9, 1, 2]  # the serve path returned other rows
        res, st = metrics.summarize(raw_run(passes, check), self.refs, False)
        self.assertEqual((res["attempted"], res["failed"]), (3, 1))
        self.assertEqual(st["wrong_outputs"], ["a@serve"])

    def test_failed_samples_excluded_from_latency(self):
        passes = [{"a": 1.0, "b": -1.0}]
        check = {"a": [10, 1, 2], "b": [20, 3, 4]}
        res, _ = metrics.summarize(raw_run(passes, check), self.refs, False)
        self.assertEqual(res["metrics"]["query_p50_s"]["value"], 1.0)


class DeclarationTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)

    def test_metric_names_and_units(self):
        for m in self.bench["end_to_end"] + self.bench["per_layer"]:
            self.assertRegex(m["name"], metrics.NAME_RE)
            self.assertRegex(m["unit"], metrics.UNIT_RE)
        names = [m["name"] for m in self.bench["end_to_end"] + self.bench["per_layer"]]
        self.assertEqual(len(names), len(set(names)))

    def test_per_layer_units_follow_names(self):
        for m in self.bench["per_layer"]:
            self.assertEqual(metrics.layer_unit(m["name"]), m["unit"], m["name"])

    def test_name_pattern_rejects_bad_names(self):
        for bad in ["", "_x", ".x", "a b", "a/b", "x" * 65, "ü"]:
            self.assertIsNone(metrics.NAME_RE.match(bad), bad)

    def test_end_to_end_matches_report(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
                         metrics.END_TO_END)

    def test_workloads_declared(self):
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]),
                         sorted(workloads.WORKLOADS))

    def test_summary_reports_every_end_to_end_metric(self):
        passes = [{"a": 1.0}]
        res, _ = metrics.summarize(raw_run(passes, {"a": [1, 2, 3]}), {"a": [1, 2, 3]}, False)
        self.assertEqual(sorted(res["metrics"]),
                         sorted(m["name"] for m in self.bench["end_to_end"]))
        for v in res["metrics"].values():
            self.assertTrue(math.isfinite(v["value"]))


class PassCountTest(unittest.TestCase):
    def test_fills_seconds_at_sized_pass_time(self):
        wl = {"sized_pass_s": 6.0}
        self.assertEqual(workloads.timed_passes(wl, 18), 3)
        self.assertEqual(workloads.timed_passes(wl, 19), 4)
        self.assertEqual(workloads.timed_passes(wl, 1), 1)

    def test_declared_run_seconds(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            seconds = json.load(fh)["run_seconds"]
        for name, wl in workloads.WORKLOADS.items():
            # pass_s and cpu_s are medians: never of a single pass
            self.assertGreaterEqual(workloads.timed_passes(wl, seconds), 2, name)


class OrderTest(unittest.TestCase):
    def test_seed_gives_same_orders(self):
        qs = workloads.WORKLOADS["relational"]["queries"]
        self.assertEqual(workloads.query_orders(qs, 7, 4), workloads.query_orders(qs, 7, 4))

    def test_each_order_is_a_permutation(self):
        qs = workloads.WORKLOADS["corpus"]["queries"]
        for order in workloads.query_orders(qs, 3, 3):
            self.assertEqual(sorted(order), sorted(qs))

    def test_seeds_and_passes_differ(self):
        qs = workloads.WORKLOADS["relational"]["queries"]
        self.assertNotEqual(workloads.query_orders(qs, 1, 1), workloads.query_orders(qs, 2, 1))
        first, second = workloads.query_orders(qs, 1, 2)
        self.assertNotEqual(first, second)

    def test_more_passes_keep_earlier_orders(self):
        qs = workloads.WORKLOADS["corpus"]["queries"]
        self.assertEqual(workloads.query_orders(qs, 5, 4)[:2], workloads.query_orders(qs, 5, 2))

    def test_order_pinned(self):
        # a change to the shuffle would silently re-key every seed
        self.assertEqual(workloads.query_orders(["a", "b", "c", "d", "e"], 1, 2),
                         [["c", "d", "e", "a", "b"], ["a", "c", "b", "e", "d"]])


if __name__ == "__main__":
    unittest.main()
