"""Tests of tools/codegen_misses.py on hand-written sources and logs.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import codegen_misses as cm  # noqa: E402


def stage(sid, body, comment="plan #12"):
    return (f"/* 001 */ public Object generate(Object[] references) {{\n"
            f"/* 002 */   return new GeneratedIteratorForCodegenStage{sid}(references);\n"
            f"/* 003 */ }}\n"
            f"/* 004 */ // codegenStageId={sid}\n"
            f"/* 005 */ final class GeneratedIteratorForCodegenStage{sid} {{ /* {comment} */\n"
            f"/* 006 */   {body}\n"
            f"/* 007 */ }}\n")


class ClassifyTest(unittest.TestCase):
    def test_causes(self):
        base = stage(1, "if (value > 5L) { x = y * 0.75D; s = \"ab\"; }")
        got = cm.classify([
            base,
            stage(1, "if (value > 5L) { x = y * 0.75D; s = \"ab\"; }", "plan #99"),
            stage(4, "if (value > 5L) { x = y * 0.75D; s = \"ab\"; }"),
            stage(1, "if (value > 7L) { x = y * 0.5D; s = \"cd\"; }"),
            stage(1, "if (value > 5L) { x = y * 0.75D; }"),
        ])
        self.assertEqual(got, ["structure", "other loader", "stage id", "literal", "structure"])

    def test_literal_and_stage_together_is_literal(self):
        a = stage(2, "long n = 300L; double avg = 11.5D;")
        b = stage(6, "long n = 301L; double avg = 11.25D;")
        self.assertEqual(cm.classify([a, b]), ["structure", "literal"])

    def test_identifier_digits_are_structure(self):
        # a digit inside a generated name is not a literal
        a = stage(1, "agg_value_3 = agg_value_2;")
        b = stage(1, "agg_value_4 = agg_value_2;")
        self.assertEqual(cm.classify([a, b]), ["structure", "structure"])


class LogTest(unittest.TestCase):
    def test_pairs_sources_with_times_per_thread(self):
        src_a, src_b = stage(1, "a();"), stage(2, "b();")
        lines = [
            "@@ 1000 DEBUG [t1]\n", *src_a.splitlines(True),
            "@@ 1001 DEBUG [t2]\n", *src_b.splitlines(True),
            "@@ 1010 INFO [t2]\n", "Code generated in 9.5 ms\n",
            "@@ 1012 INFO [t1]\n", "Code generated in 12.0 ms\n",
        ]
        got = cm.compiles(lines)
        self.assertEqual([(t, ms) for t, ms, _ in got], [(1001, 9.5), (1000, 12.0)])
        self.assertIn("b();", got[0][2])

    def test_table_attributes_compiles_to_ops(self):
        comps = [(1000, 5.0, stage(1, "a();")), (2000, 7.0, stage(3, "a();")),
                 (2100, 3.0, stage(1, "b();")), (9000, 1.0, stage(1, "c();"))]
        ops = [{"kind": "stage", "name": "x", "start_ns": 1_500_000_000, "ms": 1000.0},
               {"kind": "stage", "name": "x", "start_ns": 5_000_000_000, "ms": 10.0}]
        rows = cm.op_table(ops, comps).splitlines()
        self.assertEqual(rows[2], "| stage:x #1 | 2 | 10 | 0 | 1 | 0 | 1 | 7 stage id, 3 structure |")
        self.assertEqual(rows[3], "| stage:x #2 | 0 | 0 | 0 | 0 | 0 | 0 |  |")
        self.assertEqual(rows[4], "| total (2 ops) | 2 | 10 | 0 | 1 | 0 | 1 | |")


if __name__ == "__main__":
    unittest.main()
