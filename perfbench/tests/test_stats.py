"""The tail-percentile rule and the spread the benchmark reports.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        for n in (11, 20, 37, 84, 411):
            xs = [float(i) for i in range(n)]
            v, pct = stats.tail(xs)
            self.assertEqual(sum(1 for x in xs if x > v), 10, n)

    def test_percentile_of_84_samples_is_p88(self):
        _, pct = stats.tail(range(84))
        self.assertAlmostEqual(pct, 100 * 74 / 84)
        self.assertEqual(int(pct), 88)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 5), stats.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0))
        with self.assertRaises(ValueError):
            stats.tail([])


class SpreadTest(unittest.TestCase):
    def test_quartile_distance_over_median(self):
        # statistics.quantiles(n=4) of 1..9 (exclusive method): 2.5, 5, 7.5
        self.assertAlmostEqual(stats.spread(range(1, 10)), (7.5 - 2.5) / 5)

    def test_constant_values_have_no_spread(self):
        self.assertEqual(stats.spread([2.0] * 10), 0.0)


class QueryMetricsTest(unittest.TestCase):
    def test_graph_share_of_the_tail(self):
        samples = [[f"q{i}", "Core", 0.1 * i, True] for i in range(30)]
        samples += [[f"g{i}", "Graph", 10.0 + i, True] for i in range(5)]
        m = stats.query_metrics(samples)
        self.assertEqual(m["Graph.tail_share"], 0.5)  # 5 Graph of the 10 beyond
        self.assertAlmostEqual(m["query.tail_pct"], 100 * 25 / 35)


if __name__ == "__main__":
    unittest.main()
