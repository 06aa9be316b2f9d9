"""Tests of the benchmark's own code (no Spark needed):

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import filecmp
import json
import math
import os
import tempfile
import unittest

import gen
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class SeededInputs(unittest.TestCase):
    def _same(self, workload, seed, ops, other_seed):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            gen.generate(workload, a, seed, ops)
            gen.generate(workload, b, seed, ops)
            gen.generate(workload, c, other_seed, ops)
            names = sorted(os.listdir(a))
            self.assertTrue(names)
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertTrue(differ, "another seed must give other inputs")

    def test_tsdb_query_inputs_are_byte_identical(self):
        self._same("tsdb_query", 5, 30, 6)

    def test_tsdb_ingest_inputs_are_byte_identical(self):
        self._same("tsdb_ingest", 5, 4, 6)

    def test_training_inputs_are_byte_identical(self):
        self._same("training_data", 5, 7, 6)

    def test_query_mix_does_not_depend_on_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            counts = []
            for seed in (1, 2):
                gen.generate("tsdb_query", os.path.join(d, str(seed)), seed, 30)
                with open(os.path.join(d, str(seed), "queries.json")) as f:
                    order = json.load(f)["order"]
                counts.append(sorted(order.count(q) for q in set(order)))
            self.assertEqual(counts[0], counts[1])
            self.assertEqual(counts[0], [5] * 6)


class Percentiles(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        values = list(range(1, 101))  # 1..100
        pct, v = stats.tail(values)
        self.assertEqual((pct, v), (90.0, 90))
        self.assertEqual(sum(x > v for x in values), 10)

    def test_tail_needs_twenty_samples(self):
        self.assertIsNone(stats.tail(range(19)))
        self.assertEqual(stats.tail(range(1, 21)), (50.0, 10))

    def test_p50_gmean_weighs_every_shape(self):
        def op(tag, s, ok=True):
            return {"tag": tag, "start_ns": 0, "end_ns": int(s * 1e9), "ok": ok}
        ops = [op("a", 1), op("a", 3), op("a", 2), op("b", 8), op("b", 8)]
        self.assertAlmostEqual(stats.p50_gmean(ops), 4.0)
        self.assertIsNone(stats.p50_gmean([]))

    def test_a_shape_that_mostly_fails_has_no_median(self):
        ops = [{"tag": "a", "start_ns": 0, "end_ns": 1, "ok": False}] * 2
        self.assertEqual(stats.p50_gmean(ops), math.inf)

    def test_failed_ops_miss_every_percentile(self):
        ops = [{"start_ns": 0, "end_ns": int(1e9), "ok": True},
               {"start_ns": 0, "end_ns": int(2e9), "ok": False}]
        self.assertEqual(stats.latencies(ops), [1.0, math.inf])


def span(i, parent, start, end, name="x", op=1):
    return {"id": i, "parent": parent, "name": name, "op": op,
            "start_ns": start, "end_ns": end, "ok": True}


class SelfTimes(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 50, 90)]
        self.assertEqual(stats.self_times(spans), {1: 40, 2: 20, 3: 40})

    def test_overlapping_children_count_once(self):
        # two client threads' children may overlap in a shared parent
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 60), span(3, 1, 40, 80)]
        self.assertEqual(stats.self_times(spans)[1], 30)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 120)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_self_times_sum_to_the_root(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 60), span(3, 2, 10, 20),
                 span(4, 2, 30, 50), span(5, 1, 60, 95)]
        self.assertEqual(sum(stats.self_times(spans).values()), 100)

    def test_layer_table_counts_only_timed_ops(self):
        spans = [span(1, 0, 0, 100, "setup.stores", op=-1),
                 span(2, 0, 0, 50, "op"), span(3, 2, 0, 20, "promql.build")]
        table = stats.layer_table(spans)
        self.assertEqual(set(table), {"op", "promql.build"})
        self.assertAlmostEqual(table["op"]["self_s"], 30e-9)


class MetricNames(unittest.TestCase):
    def test_grammar(self):
        for good in ("setup_s", "spark.jobs", "tsdb.fetch.build_s", "a-b", "9x"):
            self.assertTrue(stats.NAME_RE.match(good), good)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "é"):
            self.assertFalse(stats.NAME_RE.match(bad), bad)

    def test_every_metric_name_and_unit_is_valid(self):
        names = [n for n, _ in stats.END_TO_END + stats.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(stats.NAME_RE.match(n), n)
        for _, u in stats.END_TO_END + stats.PER_LAYER:
            self.assertRegex(u, r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_benchmark_json_lists_the_reported_metrics(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         stats.PER_LAYER)
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(stats.PRIMARY))


if __name__ == "__main__":
    unittest.main()
