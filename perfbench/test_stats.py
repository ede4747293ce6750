import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)
        self.assertIsNone(stats.percentile([], 50))

    def test_highest_percentile_with_ten_beyond(self):
        # 200 samples: p95 leaves exactly 10 above it, p99 only 2
        self.assertEqual(stats.tail(list(range(200)))[1:], (95.0, 200))
        # 199 samples: p95 would leave 9.95, so p90 it is
        self.assertEqual(stats.tail(list(range(199)))[1], 90.0)
        self.assertEqual(stats.tail(list(range(1000)))[1], 99.0)
        self.assertEqual(stats.tail(list(range(40)))[1], 75.0)
        self.assertEqual(stats.tail(list(range(20)))[1], 50.0)

    def test_too_few_samples(self):
        self.assertEqual(stats.tail(list(range(19))), (None, None, 19))
        self.assertEqual(stats.tail([]), (None, None, 0))

    def test_tail_value_has_ten_samples_beyond(self):
        xs = [float(i) for i in range(57)]
        value, pct, n = stats.tail(xs)
        self.assertEqual((pct, n), (75.0, 57))
        self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)

    def test_latency_summary(self):
        s = stats.latency_summary([3.0, 1.0, 2.0])
        self.assertEqual(s, {"p50": 2.0, "tail": None, "tail_pct": None, "n": 3})


class OpsFailed(unittest.TestCase):
    RAW = {"ops": 100, "op_errors": 2, "checks": 30, "check_failed": 1}

    def test_ops_and_checks_both_count(self):
        self.assertEqual(stats.outcome_counts(self.RAW), (130, 3))

    def test_oracle_checks_count(self):
        self.assertEqual(stats.outcome_counts(self.RAW, oracle_failed=1,
                                              oracle_checked=6), (136, 4))

    def test_clean_run(self):
        raw = dict(self.RAW, op_errors=0, check_failed=0)
        self.assertEqual(stats.outcome_counts(raw), (130, 0))


class BytesPerWrite(unittest.TestCase):
    def test_ratio(self):
        self.assertAlmostEqual(stats.bytes_per_write(235000, 100), 2350.0)

    def test_no_writes(self):
        self.assertIsNone(stats.bytes_per_write(5000, 0))


if __name__ == "__main__":
    unittest.main()
