"""Self-tests of the benchmark's percentile and summary code.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import stats


def passes(cold_wall, warm):
    """Pass records: a cold pass, then one warm pass per list of latencies."""
    out = [{"wall_s": cold_wall, "gc_s": 0.0, "heap_retained_mb": 100.0,
            "samples": [{"secs": cold_wall, "ok": True}]}]
    for i, lat in enumerate(warm):
        out.append({"wall_s": sum(lat), "gc_s": 0.0, "heap_retained_mb": 100.0 + i,
                    "samples": [{"secs": s, "ok": True} for s in lat]})
    return out


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50, min_beyond=0), 50)

    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(range(100), 90), 89)  # exactly 10 beyond
        self.assertIsNone(stats.percentile(range(99), 90))      # only 9 beyond

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50, min_beyond=0))


class SummaryTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        s = stats.summary(xs)
        self.assertEqual((s["q1"], s["q3"], s["n"]), (q1, q3, 10))
        self.assertAlmostEqual(s["median"], statistics.median(xs))
        self.assertAlmostEqual(s["spread"], (q3 - q1) / statistics.median(xs))

    def test_single_value_has_no_spread(self):
        self.assertEqual(stats.summary([2.0])["spread"], 0.0)


class EndToEndTest(unittest.TestCase):
    def test_p90_omitted_with_fewer_than_ten_beyond(self):
        m = stats.end_to_end([1.0, 2.0, 3.0], passes(9.0, [[0.1] * 40, [0.2] * 40]))
        self.assertNotIn("query_p90_s", m)
        self.assertEqual(m["query_p50_s"][2], 80)

    def test_p90_reported_with_ten_beyond(self):
        warm = [[0.01 * i for i in range(1, 51)], [0.01 * i for i in range(51, 101)]]
        m = stats.end_to_end([1.0], passes(9.0, warm))
        self.assertAlmostEqual(m["query_p90_s"][0], 0.90)
        self.assertEqual(m["query_p90_s"][2], 100)

    def test_pass_times_and_failures(self):
        ps = passes(9.0, [[1.0, 2.0], [1.0, 1.0], [3.0, 3.0]])
        ps[2]["samples"][0]["ok"] = False
        m = stats.end_to_end([3.0, 1.0, 2.0], ps)
        self.assertEqual(m["setup_s"], (2.0, "s", 3))
        self.assertEqual(m["cold_pass_s"], (9.0, "s", 1))
        self.assertEqual(m["warm_pass_s"], (3.0, "s", 3))
        self.assertEqual(m["query_p50_s"], (1.5, "s", 6))
        self.assertEqual(m["failed_frac"], (1 / 7, "ratio", 7))
        self.assertEqual(m["heap_peak_mb"], (102.0, "MB", 4))


class PerLayerTest(unittest.TestCase):
    def test_warm_median_and_cold_values(self):
        ps = passes(10.0, [[1.0, 1.0], [2.0, 2.0], [1.5, 1.5]])
        for i, p in enumerate(ps):
            p["layers"] = {"build.s": 1.0 + i, "task_run_s": 4.0, "publishes": 5.0 if i == 0 else 0.0}
        m = stats.per_layer(ps, [0.2, 0.4], cores=4)
        self.assertEqual(m["queries.build_s"], (3.0, "s", 3))
        self.assertEqual(m["cold.queries.build_s"], (1.0, "s", 1))
        self.assertEqual(m["ArtifactMemo.publishes"][0], 0.0)
        self.assertEqual(m["cold.ArtifactMemo.publishes"][0], 5.0)
        self.assertAlmostEqual(m["exec.core_busy_frac"][0], 4.0 / (3.0 * 4))
        self.assertAlmostEqual(m["host.calib_s"][0], 0.3)
        self.assertEqual(m["exec.jobs"][0], 0.0)


if __name__ == "__main__":
    unittest.main()
