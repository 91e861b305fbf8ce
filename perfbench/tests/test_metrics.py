import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


class Tail(unittest.TestCase):
    def test_highest_level_with_ten_beyond(self):
        # 100 samples: p90 leaves exactly 10 above it, p95 only 5
        self.assertEqual(metrics.tail(list(range(1, 101))), (90.0, 90, 100))
        # 200 samples: p95 leaves 10 above it
        self.assertEqual(metrics.tail(list(range(1, 201))), (95.0, 190, 200))
        # 1000 samples: p99 leaves 10 above it
        self.assertEqual(metrics.tail(list(range(1, 1001)))[:2], (99.0, 990))

    def test_small_sample_reports_median_and_count(self):
        self.assertEqual(metrics.tail([5, 1, 3]), (50.0, 3, 3))
        self.assertEqual(metrics.tail(list(range(1, 21))), (50.0, 10, 20))

    def test_percentile_nearest_rank(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2)
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 100), 4)


class Units(unittest.TestCase):
    def test_grouped_ops_are_one_unit(self):
        ops = [{"group": "", "ms": 5.0, "error": None},
               {"group": "b0", "ms": 1.0, "error": None},
               {"group": "b0", "ms": 2.0, "error": None},
               {"group": "b1", "ms": 4.0, "error": "java.io.IOException: x"},
               {"group": "b1", "ms": 1.0, "error": None}]
        self.assertEqual(sorted(metrics.unit_latencies({"ops": ops})), [3.0, 5.0])

    def test_end_to_end(self):
        ops = [{"group": "", "ms": ms, "error": None} for ms in (100.0, 300.0)]
        rec = {"ops": ops, "session_s": 2.0, "setup_s": [10.0, 3.0], "heap_peak_mb": 50.0}
        m = metrics.end_to_end(rec, 1.0, "query_mix")
        self.assertEqual(m["setup_s"], 13.0)
        self.assertEqual(m["work_per_s"], 5.0)
        self.assertAlmostEqual(m["op_geomean_ms"], 30000.0 ** 0.5)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_nested_spans(self):
        spans = [self.span(1, 0, 0, 100),      # root
                 self.span(2, 1, 10, 40),      # child
                 self.span(3, 1, 30, 60),      # overlaps the first child
                 self.span(4, 2, 15, 25),      # grandchild: only its parent loses it
                 self.span(5, 1, 90, 120)]     # runs past the root's end
        own = metrics.self_times(spans)
        self.assertEqual(own[1], 100 - (50 + 10))  # children cover 10..60 and 90..100
        self.assertEqual(own[2], 30 - 10)
        self.assertEqual(own[3], 30)
        self.assertEqual(own[4], 10)
        self.assertEqual(own[5], 30)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(metrics.union_length([]), 0)


if __name__ == "__main__":
    unittest.main()
