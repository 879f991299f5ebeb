import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def op(lat, ok=True, check="", items=1, start=0.0, traced=False):
    return {"lat_ms": lat, "ok": ok, "check": check, "items": items,
            "start_ms": start, "traced": traced}


class TailRule(unittest.TestCase):
    def test_tail_leaves_exactly_ten_samples_beyond(self):
        for n in (20, 64, 100, 128, 1000):
            values = list(range(1, n + 1))
            t = stats.percentile(values, stats.tail_quantile(n))
            self.assertEqual(sum(1 for v in values if v > t), 10, n)

    def test_no_higher_percentile_qualifies(self):
        n = 128
        q = stats.tail_quantile(n)
        self.assertGreaterEqual(n * (1 - q), 10 - 1e-9)
        values = list(range(n))
        higher = stats.percentile(values, q + 1.0 / n)
        self.assertLess(sum(1 for v in values if v > higher), 10)

    def test_few_samples_report_the_median(self):
        for n in (1, 4, 19):
            self.assertEqual(stats.tail_quantile(n), 0.5)
        self.assertEqual(stats.percentile([5, 1, 3, 2], 0.5), 2)

    def test_percentile_is_nearest_rank(self):
        self.assertEqual(stats.percentile([10, 20, 30, 40], 0.9), 40)
        self.assertEqual(stats.percentile([10, 20, 30, 40], 0.25), 10)
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


class FailureAccounting(unittest.TestCase):
    def test_failed_op_counts_as_missing(self):
        ops = [op(10.0, start=i * 10.0) for i in range(19)] + [op(None, ok=False, start=190.0)]
        m, counts = stats.end_to_end(ops, set(), 0.0, setup_s=1.0, heap_mb=1.0)
        self.assertEqual((counts["attempted"], counts["failed"]), (20, 1))
        self.assertAlmostEqual(m["ok_frac"], 0.95)
        # the failed op sorts beyond every success, so it sits in the tail
        lats = stats.latencies(ops, set(), missing_ms=500.0)
        self.assertEqual(max(lats), 500.0)
        self.assertEqual(m["op_p50_ms"], 10.0)

    def test_oracle_rejection_fails_the_ops_that_produced_the_output(self):
        ops = [op(5.0, check="a"), op(6.0, check="b"), op(7.0, check="a")]
        m, counts = stats.end_to_end(ops, {"a"}, 0.0, setup_s=1.0, heap_mb=1.0)
        self.assertEqual(counts["failed"], 2)
        self.assertAlmostEqual(m["ok_frac"], 1 / 3)
        # one surviving item over the 7 ms from start to the last op's end
        self.assertAlmostEqual(m["items_per_s"], 1 / 0.007)

    def test_missing_latency_is_never_below_a_success(self):
        ops = [op(900.0), op(None, ok=False)]
        self.assertEqual(stats.latencies(ops, set(), missing_ms=100.0), [900.0, 900.0])

    def test_throughput_counts_only_successful_items(self):
        ops = [op(100.0, items=50, start=0.0), op(100.0, items=50, start=100.0, ok=False)]
        m, _ = stats.end_to_end(ops, set(), 0.0, setup_s=1.0, heap_mb=1.0)
        self.assertAlmostEqual(m["items_per_s"], 50 / 0.2)

    def test_overhead_compares_traced_with_untraced_medians(self):
        ops = [op(100.0), op(100.0), op(110.0, traced=True), op(110.0, traced=True)]
        self.assertAlmostEqual(stats.overhead_frac(ops), 0.1)
        self.assertEqual(stats.overhead_frac(ops[:2]), 0.0)


if __name__ == "__main__":
    unittest.main()
