"""Unit tests of the benchmark's pure helpers. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import benchlib  # noqa: E402


class OrderStatistics(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(benchlib.median([3, 1, 2]), 2)
        self.assertEqual(benchlib.median([4, 1, 3, 2]), 2.5)

    def test_median_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.median([])

    def test_quartiles_match_statistics_quantiles(self):
        xs = [9.1, 10.4, 9.8, 10.0, 9.6, 10.9, 9.9, 10.2, 9.7, 10.1]
        self.assertEqual(benchlib.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_quartiles_of_one_value(self):
        self.assertEqual(benchlib.quartiles([5.0]), (5.0, 5.0, 5.0))

    def test_spread_is_iqr_over_median(self):
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(benchlib.spread(xs), (q3 - q1) / 5.5)
        self.assertEqual(benchlib.spread([2.0, 2.0, 2.0]), 0.0)


class TailPercentile(unittest.TestCase):
    def test_p99_needs_ten_samples_beyond(self):
        xs = list(range(1, 1001))  # 1000 samples: p99.9 has 1 beyond, p99 has 10
        self.assertEqual(benchlib.tail_percentile(xs), (99.0, 990))

    def test_small_samples_fall_back_to_lower_percentiles(self):
        xs = list(range(1, 101))  # 100 samples: p90 is the highest with 10 beyond
        self.assertEqual(benchlib.tail_percentile(xs), (90.0, 90))

    def test_tiny_sample_reports_the_median(self):
        self.assertEqual(benchlib.tail_percentile([5, 1, 3]), (50.0, 3))

    def test_order_does_not_matter(self):
        xs = list(range(2000))
        self.assertEqual(benchlib.tail_percentile(list(reversed(xs))), benchlib.tail_percentile(xs))


class FamiliesAndRatios(unittest.TestCase):
    def test_families_cover_each_query_once(self):
        names = [q for qs in benchlib.FAMILIES.values() for q in qs]
        self.assertEqual(len(names), 12)
        self.assertEqual(len(set(names)), 12)

    def test_family_sums(self):
        med = {q: 1.0 for qs in benchlib.FAMILIES.values() for q in qs}
        med["lang_id"] = 2.5
        sums = benchlib.family_sums(med)
        self.assertEqual(sums["q_text_s"], 4.5)
        self.assertEqual(sums["q_dedup_s"], 3.0)
        self.assertEqual(sum(sums.values()), sum(med.values()))

    def test_missing_query_is_an_error_not_zero(self):
        med = {q: 1.0 for qs in benchlib.FAMILIES.values() for q in qs}
        del med["tpch_skew_revenue"]
        with self.assertRaises(KeyError):
            benchlib.family_sums(med)

    def test_fail_ratio(self):
        self.assertEqual(benchlib.fail_ratio(0, 23), 0.0)
        self.assertEqual(benchlib.fail_ratio(1, 4), 0.25)
        with self.assertRaises(ValueError):
            benchlib.fail_ratio(0, 0)

    def test_stage_imbalance(self):
        st = {"task_ms": [10, 10, 40, 5, 100], "task_stage": [1, 1, 1, 2, 3]}
        # stage 1: max 40 / median 10; stages 2 and 3 have a single task
        self.assertEqual(benchlib.stage_imbalance([st]), 4.0)


class Reduction(unittest.TestCase):
    RAW = {"session_s": 5.0, "setup_reps_s": [9.0, 2.0, 3.0], "warm_s": 4.0,
           "session_cpu_s": 10.0, "setup_reps_cpu_s": [20.0, 5.0, 6.0], "warm_cpu_s": 8.0,
           "parts": [{"plain_s": [2.0, 1.0, 3.0], "plain_cpu_s": [6.0, 5.0, 9.0],
                      "plain_thread_cpu_s": [3.0, 2.5, 4.0]},
                     {"plain_s": [4.0], "plain_cpu_s": [10.0], "plain_thread_cpu_s": [5.0]}],
           "kernel_s": [0.5, 0.7], "kernel_cpu_s": [1.5, 2.5], "live_heap_mb": [80.0, 95.5]}

    def test_end_to_end(self):
        m = benchlib.end_to_end(self.RAW)
        self.assertEqual(m["setup_s"], {"value": 24.0, "unit": "s"})  # CPU: 10 + median 6 + 8
        self.assertEqual(m["pass_cpu_s"]["value"], 8.0)  # Java threads: median 3.0 + median 5.0
        self.assertEqual(set(m), {"setup_s", "pass_cpu_s", "live_heap_sampled_mb"})
        self.assertEqual(benchlib.setup_seconds(self.RAW), 12.0)  # wall: 5 + median 3 + 4
        self.assertEqual(benchlib.pass_seconds(self.RAW["parts"]), 6.0)  # median 2.0 + median 4.0
        self.assertEqual(benchlib.pass_seconds(self.RAW["parts"], "plain_cpu_s"), 16.0)
        self.assertEqual(m["live_heap_sampled_mb"]["value"], 95.5)

    def test_spark_stages_are_per_pass(self):
        st = {"jobs": 6, "stages": 8, "tasks": 20, "executor_run_ms": 900, "executor_cpu_ms": 600.0,
              "jvm_gc_ms": 30, "shuffle_read_bytes": 2 * benchlib.MIB, "shuffle_write_bytes": 0,
              "output_bytes": 0, "task_ms": [10, 20, 30], "task_stage": [1, 1, 1]}
        parts = [{"traced_s": [1.0, 1.1], "stages": st}, {"traced_s": [3.0], "stages": st}]
        m = benchlib._stage_metrics("spark.", parts)
        self.assertEqual(m["spark.jobs"]["value"], 3 + 6)   # 6 over 2 passes + 6 over 1
        self.assertEqual(m["spark.shuffle_read_mb"]["value"], 1.0 + 2.0)
        self.assertEqual(m["spark.task_ms_max"]["value"], 30.0)

    def test_kernel_phases(self):
        k = {"docs_per_sweep": 10, "phases": ["parse", "meta"],
             "ns": [[1000, 3000], [2000, 4000], [9000, 1000]],
             "bytes": [[1024, 2048], [1024, 2048], [1024, 2048]],
             "arbitrated": 10, "overridden": 3}
        m = benchlib.kernel_phase_metrics(k)
        self.assertEqual(m["parse.us_per_doc"]["value"], 0.2)   # median 2000 ns / 10 docs
        self.assertEqual(m["meta.kb_per_doc"]["value"], 0.2)
        self.assertEqual(m["kernel.us_per_doc"]["value"], 0.6)  # median of 4000, 6000, 10000
        self.assertEqual(m["fallback.override_ratio"]["value"], 0.3)


    def test_metric_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..",
                               "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        st = {"jobs": 6, "stages": 8, "tasks": 3, "executor_run_ms": 900, "executor_cpu_ms": 600.0,
              "jvm_gc_ms": 30, "shuffle_read_bytes": 1, "shuffle_write_bytes": 1,
              "output_bytes": 1, "task_ms": [10, 20, 30], "task_stage": [1, 1, 1]}
        phases = ["parse", "meta", "clean", "convert", "content", "fallback", "serialize", "hash"]
        raw = dict(self.RAW, parts=[dict(p, stages=st, traced_s=[1.0], overhead_ref_s=[0.9])
                                    for p in self.RAW["parts"]],
                   trace={"kernel": {"docs_per_sweep": 2, "phases": phases,
                                     "ns": [[1000] * len(phases)], "bytes": [[1024] * len(phases)],
                                     "arbitrated": 2, "overridden": 1},
                          "row": {"kernel_us": [5, 7, 9], "stage": {"executor_run_ms": 1}}})
        self.assertEqual(set(benchlib.end_to_end(self.RAW)), {m["name"] for m in spec["end_to_end"]})
        self.assertEqual(set(benchlib.per_layer(raw)), {m["name"] for m in spec["per_layer"]})


if __name__ == "__main__":
    unittest.main()
