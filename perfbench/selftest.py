"""Self-tests of the benchmark harness: python3 perfbench/selftest.py

Covers the percentile and tail selection, span self-time arithmetic, and
that BENCHMARK.json names workloads run.py knows and exactly the metrics it
reports. The end-to-end smoke test is `python3 perfbench/run.py --smoke`.
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(stats.percentile([5], 99), 5)
        self.assertEqual(stats.percentile(range(101), 90), 90)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailTest(unittest.TestCase):
    def test_large_sample_reports_p99_9(self):
        self.assertEqual(stats.tail(list(range(10000)))[0], "p99.9")

    def test_thousand_samples_support_p99_not_p99_9(self):
        label, value = stats.tail(list(range(1000)))
        self.assertEqual(label, "p99")
        self.assertAlmostEqual(value, 989.01)

    def test_boundaries_need_ten_beyond(self):
        self.assertEqual(stats.tail(list(range(999)))[0], "p95")
        self.assertEqual(stats.tail(list(range(100)))[0], "p90")
        self.assertEqual(stats.tail(list(range(99)))[0], "p75")
        self.assertEqual(stats.tail(list(range(20)))[0], "p50")

    def test_small_sample_reports_max(self):
        self.assertEqual(stats.tail([3, 1, 2]), ("max", 3))

    def test_summary(self):
        s = stats.summary(list(range(1, 1001)))
        self.assertEqual((s["tail_label"], s["n"], s["p50"]), ("p99", 1000, 500.5))


class SelfTimeTest(unittest.TestCase):
    def span(self, id, parent, start, end, name="x"):
        return {"id": id, "parent": parent, "start_us": start, "end_us": end,
                "name": name}

    def test_leaf_is_all_self(self):
        self.assertEqual(stats.self_times([self.span("a", "", 0, 10)]), {"a": 10})

    def test_children_are_subtracted(self):
        spans = [self.span("a", "", 0, 100), self.span("b", "a", 10, 30),
                 self.span("c", "a", 50, 60)]
        self.assertEqual(stats.self_times(spans)["a"], 70)

    def test_overlapping_children_count_once(self):
        spans = [self.span("a", "", 0, 100), self.span("b", "a", 10, 40),
                 self.span("c", "a", 30, 50)]
        self.assertEqual(stats.self_times(spans)["a"], 60)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span("a", "", 0, 100), self.span("b", "a", 90, 130),
                 self.span("c", "a", 200, 300)]
        self.assertEqual(stats.self_times(spans)["a"], 90)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span("a", "", 0, 100, "p"), self.span("b", "a", 0, 50, "q"),
                 self.span("c", "b", 0, 20, "q")]
        st = stats.self_times(spans)
        self.assertEqual((st["a"], st["b"], st["c"]), (50, 30, 20))
        self.assertEqual(stats.self_time_by_name(spans), {"p": 50, "q": 50})


class BatchCommitTest(unittest.TestCase):
    KEYS = {1: "a", 2: "a", 3: "b", 4: "a"}

    def test_newest_per_key_committed(self):
        self.assertEqual(run.batch_commit_errors(
            {0: [1, 2, 3], 1: [4]}, {0: {2, 3}, 1: {4}}, self.KEYS), (0, 0))

    def test_lost_update_hidden_by_a_later_batch_is_caught(self):
        # record 2 is newest for "a" in batch 0 but never committed; a newer
        # record for "a" in batch 1 must not excuse it
        self.assertEqual(run.batch_commit_errors(
            {0: [1, 2, 3], 1: [4]}, {0: {3}, 1: {4}}, self.KEYS), (1, 0))

    def test_superseded_record_committed_is_an_error(self):
        self.assertEqual(run.batch_commit_errors(
            {0: [1, 2, 3]}, {0: {1, 2, 3}}, self.KEYS), (0, 1))

    def test_batch_with_no_commit_loses_its_records(self):
        self.assertEqual(run.batch_commit_errors({0: [1, 3]}, {}, self.KEYS), (2, 0))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_run_py(self):
        path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
        with open(path) as f:
            spec = json.load(f)
        self.assertLessEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
