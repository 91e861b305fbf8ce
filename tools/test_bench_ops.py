"""Tests of tools/bench_ops.py on hand-written trace JSON.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench_ops  # noqa: E402


def op(kind, name, start_ms, ms, fs=(0, 0, 0, 0), error=None):
    """One trace op as perfbench records it (start in ns, fs counts first)."""
    return {"kind": kind, "name": name, "start_ns": start_ms * 1_000_000, "ms": ms,
            "fs": list(fs) + [0, 0], "error": error}


def job(start_ms, end_ms, tasks):
    return {"start_ms": start_ms, "end_ms": end_ms, "tasks": tasks}


class CoveredTest(unittest.TestCase):
    def test_overlapping_intervals_count_once(self):
        self.assertEqual(bench_ops.covered([(0, 10), (5, 15)]), 15)
        self.assertEqual(bench_ops.covered([(5, 15), (0, 10), (14, 20)]), 20)

    def test_nested_interval_adds_nothing(self):
        self.assertEqual(bench_ops.covered([(0, 20), (5, 10)]), 20)
        self.assertEqual(bench_ops.covered([(5, 10), (0, 20), (6, 7)]), 20)

    def test_zero_length_jobs(self):
        self.assertEqual(bench_ops.covered([(5, 5)]), 0)
        self.assertEqual(bench_ops.covered([(5, 5), (5, 5), (7, 7)]), 0)
        # inside, at the edge of and after a real interval
        self.assertEqual(bench_ops.covered([(0, 10), (3, 3), (10, 10), (12, 12)]), 10)

    def test_disjoint_and_empty(self):
        self.assertEqual(bench_ops.covered([(0, 2), (4, 7)]), 5)
        self.assertEqual(bench_ops.covered([]), 0)


class TraceTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.dir.cleanup()

    def trace(self, name, ops, jobs):
        path = os.path.join(self.dir.name, name)
        with open(path, "w") as f:
            json.dump({"ops": ops, "jobs": jobs}, f)
        return path

    def test_op_rows_attributes_jobs_by_start(self):
        path = self.trace("a.json", [op("stage", "clean", 0, 100, fs=(1, 2, 3, 4))], [
            job(10, 30, 4),
            job(20, 40, 2),    # overlaps the first: the union is 10..40
            job(90, 150, 1),   # starts inside, clipped at the op's end
            job(150, 160, 8),  # starts after the op: not its job
        ])
        [(key, row)] = bench_ops.op_rows(path)
        self.assertEqual(key, ("stage:clean", 1))
        self.assertEqual((row["jobs"], row["tasks"]), (3, 7))
        self.assertAlmostEqual(row["job_ms"], 40.0)
        self.assertAlmostEqual(row["outside_ms"], 60.0)
        self.assertEqual([row[c] for c in bench_ops.FS], [1, 2, 3, 4])

    def test_two_traces_pair_by_name_and_occurrence(self):
        parent = self.trace("parent.json", [
            op("stage", "clean", 0, 10, fs=(1, 0, 0, 0)),
            op("search", "bm25", 20, 10),
            op("stage", "clean", 40, 30, fs=(5, 0, 0, 0)),
            op("index", "remove", 80, 10, error="boom"),
        ], [])
        change = self.trace("change.json", [
            op("stage", "clean", 0, 12, fs=(2, 0, 0, 0)),
            op("stage", "clean", 20, 33, fs=(6, 0, 0, 0)),
            op("index", "remove", 60, 7),
            op("search", "bm25", 70, 11),
        ], [])
        runs = [bench_ops.op_rows(parent), bench_ops.op_rows(change)]
        self.assertEqual([k for k, _ in runs[0]], [
            ("stage:clean", 1), ("search:bm25", 1), ("stage:clean", 2),
            ("index:remove (failed)", 1)])
        rows = {line.split(" | ")[0].lstrip("| "): line.split(" | ")
                for line in bench_ops.table(runs).splitlines()[2:]}
        # the second clean pairs with the second clean, whatever lies between
        self.assertEqual(rows["stage:clean #1"][1], "10 / 12")
        self.assertEqual(rows["stage:clean #2"][1], "30 / 33")
        self.assertEqual(rows["stage:clean #2"][6], "5 / 6")
        self.assertEqual(rows["search:bm25"][1], "10 / 11")
        # a failed op is its own row: it pairs with no successful one
        self.assertEqual(rows["index:remove (failed)"][1], "10 / -")
        self.assertEqual(rows["index:remove"][1], "- / 7")
        self.assertEqual(rows["**all ops**"][1], "60 / 63")


if __name__ == "__main__":
    unittest.main()
