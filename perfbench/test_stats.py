"""Self-tests of the benchmark's arithmetic: python3 perfbench/test_stats.py"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        # 100 samples: p90 leaves exactly 10 above it
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90))
        # 1000 samples: p99
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))
        # 30 samples: rank 20, two thirds
        p, v = stats.tail(list(range(1, 31)))
        self.assertAlmostEqual(p, 200.0 / 3)
        self.assertEqual(v, 20)

    def test_tail_falls_back_to_median(self):
        self.assertEqual(stats.tail([5.0, 1.0, 3.0]), (50.0, 3.0))
        self.assertEqual(stats.tail(list(range(1, 21))), (50.0, 10.5))
        self.assertEqual(stats.tail([1.0, 2.0, 3.0, 4.0]), (50.0, 2.5))

    def test_tail_is_order_free(self):
        xs = [float(x) for x in range(200)]
        self.assertEqual(stats.tail(xs), stats.tail(list(reversed(xs))))


class FailureCounting(unittest.TestCase):
    def test_failures_count_against_attempts(self):
        runs = [{"attempted": 10, "failed": 1}, {"attempted": 5, "failed": 0}]
        self.assertEqual(stats.tally(runs, []), (15, 1))

    def test_fingerprint_mismatch_is_a_failed_attempt(self):
        self.assertEqual(stats.tally([{"attempted": 5, "failed": 0}], ["x: differs"]), (5, 1))

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tally([{"attempted": 0, "failed": 0}], [])


class IdleTime(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        jobs = [(10, 30), (20, 40), (50, 60)]
        self.assertEqual(stats.busy_ms(jobs, 0, 100), 40)
        self.assertEqual(stats.idle_ms(jobs, 0, 100), 60)

    def test_nested_and_touching(self):
        self.assertEqual(stats.busy_ms([(0, 50), (10, 20), (50, 70)], 0, 100), 70)

    def test_clipped_to_window(self):
        jobs = [(-10, 5), (95, 120), (200, 300)]
        self.assertEqual(stats.busy_ms(jobs, 0, 100), 10)
        self.assertEqual(stats.idle_ms(jobs, 0, 100), 90)

    def test_no_jobs(self):
        self.assertEqual(stats.idle_ms([], 5, 25), 20)


class Skew(unittest.TestCase):
    def test_worst_stage(self):
        self.assertEqual(stats.skew_max([[10, 10, 10], [10, 20, 80]]), 4.0)

    def test_single_task_and_tiny_stages(self):
        self.assertEqual(stats.skew_max([[500]]), 1.0)
        self.assertEqual(stats.skew_max([[0, 0, 3]]), 3.0)


class Fingerprints(unittest.TestCase):
    expected = {"a": {"rows": 3, "hash": "-12"}, "b": {"rows": 0, "hash": "0"}}

    def test_match(self):
        self.assertEqual(stats.fingerprint_mismatches([("a", 3, "-12"), ("b", 0, "0")],
                                                      self.expected), [])

    def test_rows_or_hash_differ(self):
        bad = stats.fingerprint_mismatches([("a", 4, "-12"), ("b", 0, "1")], self.expected)
        self.assertEqual(len(bad), 2)
        self.assertTrue(bad[0].startswith("a:"))

    def test_unknown_entry(self):
        self.assertEqual(stats.fingerprint_mismatches([("c", 1, "1")], self.expected),
                         ["c: no committed fingerprint"])


class Spread(unittest.TestCase):
    def test_spread(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 5.5 / 5.5)
        self.assertEqual(stats.spread([4.0] * 10), 0.0)


class ClassMedian(unittest.TestCase):
    def test_geometric_mean_of_class_medians(self):
        samples = [["a", 10.0], ["a", 1000.0], ["a", 100.0], ["b", 400.0], ["b", 300.0],
                   ["b", 500.0]]
        self.assertAlmostEqual(stats.class_p50(samples), 200.0)

    def test_independent_of_the_mix(self):
        one = [["a", 100.0], ["b", 400.0]]
        self.assertAlmostEqual(stats.class_p50(one), stats.class_p50(one + [["a", 100.0]] * 5))

    def test_overhead_against_the_untraced_window(self):
        raw = {"samples": [["a", 110.0]], "baseline_samples": [["a", 100.0], ["a", 100.0]]}
        self.assertAlmostEqual(stats.overhead_pct(raw), 10.0)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.class_p50([])


class EndToEnd(unittest.TestCase):
    def test_metrics_from_raw(self):
        raw = {"samples": [["q", 100.0], ["q", 300.0], ["q", 200.0]], "setup_s": [3.0, 1.0, 2.0],
               "window_start_ms": 1000.0, "window_end_ms": 1600.0, "window_cpu_ms": 900.0,
               "store_bytes": 30, "user_bytes": 20}
        m = stats.end_to_end(raw)
        self.assertEqual(m["setup_s"], 2.0)
        self.assertAlmostEqual(m["class_ms_p50"], 200.0)
        self.assertEqual(m["cpu_ms_per_op"], 300.0)
        self.assertEqual(m["ops_per_s"], 5.0)
        self.assertEqual(m["store_bytes_per_user_byte"], 1.5)


if __name__ == "__main__":
    unittest.main()
