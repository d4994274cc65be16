"""Tests of the benchmark's own arithmetic and checks.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import pandas as pd

import layers
import oracle
import stats


class UnionOfIntervals(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (10, 11)]), 7)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_empty_and_degenerate(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)

    def test_driver_gap_is_wall_minus_union_within_query(self):
        q = {"query": "q_x", "pass": 0, "start_ms": 1000.0,
             "build_end_ms": 1100.0, "end_ms": 2000.0, "ok": True, "rows": 4}
        result = {"cores": 4, "passes": [{"pass": 0, "queries": [q]}], "trace": {
            "jobs": [
                {"id": 0, "start_ms": 1050, "end_ms": 1300, "stage_ids": [0]},
                {"id": 1, "start_ms": 1200, "end_ms": 1400, "stage_ids": [1]},
                {"id": 2, "start_ms": 1700, "end_ms": 2300, "stage_ids": []},
                {"id": 3, "start_ms": 5000, "end_ms": 5100, "stage_ids": []}],
            "stages": [], "executions": [], "batches": []}}
        m, spans = layers.per_layer(result, {"q_x": "operators"})
        # union inside [1000, 2000]: [1050, 1400] + [1700, 2000] = 650 ms
        self.assertAlmostEqual(m["spark.job_s"], 0.65)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.35)
        self.assertEqual(m["spark.jobs"], 3)  # job 3 is outside every query
        self.assertEqual(m["build.eager_jobs"], 1)
        self.assertAlmostEqual(m["operators.wall_s"], 1.0)
        job0 = next(s for s in spans if s["name"] == "job 0")
        self.assertEqual(spans[job0["parent"]]["name"], "build")


class PercentileRule(unittest.TestCase):
    def test_median_alone_below_forty(self):
        self.assertIsNone(stats.tail_percentile(39))

    def test_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(99), 75)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(999), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_quantile(self):
        self.assertEqual(stats.quantile([3, 1, 2], 0.5), 2)
        self.assertEqual(stats.quantile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(stats.quantile(list(range(101)), 0.9), 90)

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([10] * 10), 0.0)
        # statistics.quantiles(1..10, n=4) gives 2.75 and 8.25; median 5.5
        self.assertAlmostEqual(stats.spread(list(range(1, 11))), (8.25 - 2.75) / 5.5)


class StealCorrection(unittest.TestCase):
    def test_no_steal_keeps_wall(self):
        self.assertEqual(stats.steal_corrected(2.0, 300, 0), 2.0)

    def test_scales_by_cpu_handed_out(self):
        # a fifth of the wanted CPU was stolen: 0.8 of the wall remains
        self.assertAlmostEqual(stats.steal_corrected(2.5, 320, 80), 2.0)

    def test_no_ticks(self):
        self.assertEqual(stats.steal_corrected(0.01, 0, 0), 0.01)


class StageSkew(unittest.TestCase):
    def test_max_over_median(self):
        self.assertEqual(stats.stage_skew([10, 10, 10, 40]), 4.0)
        self.assertEqual(stats.stage_skew([5, 10, 20]), 2.0)

    def test_single_task_stage(self):
        self.assertEqual(stats.stage_skew([123]), 1.0)
        self.assertEqual(stats.stage_skew([]), 1.0)


class Compare(unittest.TestCase):
    twin = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})

    def test_equal(self):
        self.assertIsNone(oracle.compare(self.twin.copy(), self.twin, ordered=True))

    def test_column_order_ignored(self):
        self.assertIsNone(oracle.compare(self.twin[["v", "k"]], self.twin, ordered=True))

    def test_wrong_value(self):
        mine = self.twin.copy()
        mine.loc[1, "v"] = 1.5000000000000002
        self.assertIn("value differs at row 1",
                      oracle.compare(mine, self.twin, ordered=False))

    def test_wrong_order_under_order_by(self):
        mine = self.twin.iloc[::-1].reset_index(drop=True)
        self.assertIn("order differs", oracle.compare(mine, self.twin, ordered=True))
        self.assertIsNone(oracle.compare(mine, self.twin, ordered=False))

    def test_row_count_and_schema(self):
        self.assertIn("row count", oracle.compare(self.twin.head(2), self.twin, True))
        self.assertIn("schema", oracle.compare(self.twin.rename(columns={"v": "w"}),
                                               self.twin, True))

    def test_outer_order_by(self):
        self.assertTrue(oracle.outer_order_by(
            "WITH a AS (SELECT x FROM t ORDER BY x) SELECT * FROM a ORDER BY x"))
        self.assertFalse(oracle.outer_order_by(
            "SELECT rank() OVER (ORDER BY x) FROM t"))
        self.assertFalse(oracle.outer_order_by(
            "SELECT 'ORDER BY' AS s FROM (SELECT 1 ORDER BY 1) t"))


if __name__ == "__main__":
    unittest.main()
