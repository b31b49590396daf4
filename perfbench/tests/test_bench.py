"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402


def span(i, start, end, parent=None, name="x", **phase):
    counters = {"jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_w_mb": 0.0, "shuffle_r_mb": 0.0,
                "spill_mb": 0.0, "task_retries": 0, "sched_wait_s": 0.0, "gc_s": 0.0,
                "task_ms": []}
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end,
            "build_s": 0.0, "plan_s": 0.0, "exec_s": end - start, "rows_out": 0,
            "phases": {"build": dict(counters), "plan": dict(counters),
                       "exec": dict(counters, **phase)}}


class PercentileRule(unittest.TestCase):
    def test_172_samples_report_p90(self):
        # 172 samples: p95 has 8 beyond it, p90 has 17
        p, v = metrics.tail_percentile(list(range(1, 173)))
        self.assertEqual((p, v), (90, 155))
        self.assertEqual(sum(1 for x in range(1, 173) if x > v), 17)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(list(range(1000)))[0], 99)
        self.assertEqual(metrics.tail_percentile(list(range(40)))[0], 75)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(list(range(19))))

    def test_ties_are_not_beyond(self):
        self.assertIsNone(metrics.tail_percentile([1.0] * 100))


class SelfTime(unittest.TestCase):
    def test_nested(self):
        spans = [span(0, 0, 10), span(1, 1, 4, parent=0), span(2, 2, 3, parent=1),
                 span(3, 5, 9, parent=0)]
        s = metrics.self_times(spans)
        self.assertAlmostEqual(s[0], 3)
        self.assertAlmostEqual(s[1], 2)
        self.assertAlmostEqual(s[2], 1)
        self.assertAlmostEqual(s[3], 4)
        # self times partition the top-level span
        self.assertAlmostEqual(sum(s.values()), 10)

    def test_overlapping_children_count_once(self):
        spans = [span(0, 0, 10), span(1, 2, 6, parent=0), span(2, 4, 8, parent=0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 4)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, 0, 10), span(1, 8, 12, parent=0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 8)


class FailAccounting(unittest.TestCase):
    ops = [{"name": "a", "ok": True}, {"name": "b", "ok": False}, {"name": "c", "ok": True}]

    def test_thrown_op_fails(self):
        self.assertEqual(metrics.fail_counts(self.ops), (3, 1))

    def test_failed_check_fails_its_op_once(self):
        self.assertEqual(metrics.fail_counts(self.ops, ["c"]), (3, 2))
        self.assertEqual(metrics.fail_counts(self.ops, ["b"]), (3, 1))

    def test_failed_check_without_op_counts_extra(self):
        self.assertEqual(metrics.fail_counts(self.ops, ["whole_run"]), (4, 2))

    def test_check_fails_the_last_run_of_a_name(self):
        ops = [{"name": "a", "ok": False}, {"name": "a", "ok": True}]
        self.assertEqual(metrics.fail_counts(ops, ["a"]), (2, 2))


class LayerMetrics(unittest.TestCase):
    def test_counters_and_idle_layers(self):
        spans = [span(0, 0, 4, name="bench.pass"),
                 span(1, 0, 2, parent=0, name="operators.Dedup.exactKeepFirst", jobs=2,
                      tasks=8, task_s=4.0, task_ms=[100, 100, 100, 400], shuffle_w_mb=3.0)]
        spans[1]["phases"]["build"]["jobs"] = 1
        spans[1]["rows_out"] = 10
        traced = {"trace": {"spans": spans, "unattributed": span(9, 0, 0)["phases"]["exec"]},
                  "wall_s": 4.5, "gc_s": 0.1}
        values, layers, coverage = metrics.per_layer_values(traced, cores=4)
        m = layers["operators.Dedup.exactKeepFirst"]
        self.assertEqual(m["jobs"], 3)
        self.assertEqual(m["jobs_eager"], 1)
        self.assertAlmostEqual(m["tasks_per_job"], 8 / 3)
        self.assertAlmostEqual(m["util"], 4.0 / (2 * 4))
        self.assertAlmostEqual(m["skew"], 4.0)
        self.assertAlmostEqual(m["rows_s"], 5.0)
        self.assertEqual(values["operators.Dedup.exactKeepFirst.shuffle_w_mb"], 3.0)
        self.assertEqual(values["operators.Bpe.learnMerges.build_s"], 0.0)
        self.assertAlmostEqual(values["trace.wall_s"], 4.5)
        self.assertAlmostEqual(values["trace.harness_self_s"], 2.0)
        self.assertAlmostEqual(coverage["self_sum_s"], 4.0)
        self.assertAlmostEqual(coverage["pass_span_s"], 4.0)
        self.assertEqual(set(values), {n for n, *_ in metrics.per_layer_catalog()})


class Generators(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w), tempfile.TemporaryDirectory() as d:
                a = gen.digest(gen.generate(w, 7, os.path.join(d, "a")))
                b = gen.digest(gen.generate(w, 7, os.path.join(d, "b")))
                c = gen.digest(gen.generate(w, 8, os.path.join(d, "c")))
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class BenchmarkFile(unittest.TestCase):
    def test_matches_catalog(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        with open(path) as f:
            doc = json.load(f)
        self.assertEqual(doc, metrics.benchmark_json(doc["run_seconds"]))
        for e in doc["end_to_end"]:
            self.assertLessEqual(e["bound"], 0.25)
        setup = next(e for e in doc["end_to_end"] if e["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(e["bound"] for e in doc["end_to_end"]))


if __name__ == "__main__":
    unittest.main()
