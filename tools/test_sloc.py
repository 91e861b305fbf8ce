"""Tests of tools/sloc.py on hand-written Scala sources.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import io
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import sloc  # noqa: E402


class CodeLinesTest(unittest.TestCase):
    def test_blank_lines_do_not_count(self):
        self.assertEqual(sloc.code_lines("object A {\n\n   \n\t\n}\n"), 2)

    def test_line_comments(self):
        src = ("// header\n"
               "val a = 1 // trailing comment\n"
               "   // indented comment\n"
               "val b = 2\n")
        self.assertEqual(sloc.code_lines(src), 2)

    def test_scaladoc_and_block_comments(self):
        src = ("/** Scaladoc\n"
               "  * over lines\n"
               "  */\n"
               "def f = 1 /* inline */ + 2\n"
               "/* one-line block */\n"
               "/* opens\n"
               "   closes */ val c = 3\n"
               "val d = /* mid */ 4\n")
        self.assertEqual(sloc.code_lines(src), 3)

    def test_block_comments_nest(self):
        src = ("/* outer /* inner */\n"
               "   still comment */\n"
               "val e = 5\n")
        self.assertEqual(sloc.code_lines(src), 1)

    def test_comment_markers_inside_string_literals_are_text(self):
        src = ('val url = "http://example.org"\n'
               'val glob = "src/*.scala"\n'
               'val s = s"$root//x"\n'
               'val q = "a \\" // still text"\n')
        self.assertEqual(sloc.code_lines(src), 4)
        # a `/*` inside a string does not open a comment on the next line
        self.assertEqual(sloc.code_lines('val g = "/*"\nval h = 1\n'), 2)

    def test_comment_after_a_string_still_is_a_comment(self):
        src = 'val a = "x" // note\n// only comment\n'
        self.assertEqual(sloc.code_lines(src), 1)

    def test_triple_quoted_strings(self):
        src = ('val sql = """SELECT 1 -- // not a comment\n'
               '\n'
               '  /* not a comment either */\n'
               '  FROM t"""\n'
               'val quoted = """say ""hi""""\n'
               '// comment\n')
        self.assertEqual(sloc.code_lines(src), 4)

    def test_character_literals(self):
        src = ("val q = '\"'\n"
               "val c = '/' // comment\n"
               "val esc = '\\''\n"
               "val after = 1\n")
        self.assertEqual(sloc.code_lines(src), 4)

    def test_last_line_without_newline_counts(self):
        self.assertEqual(sloc.code_lines("val a = 1\nval b = 2"), 2)


class MainTest(unittest.TestCase):
    def test_per_file_counts_and_total(self):
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "pkg"))
            with open(os.path.join(d, "A.scala"), "w") as f:
                f.write("// c\nobject A\n")
            with open(os.path.join(d, "pkg", "B.scala"), "w") as f:
                f.write("object B {\n  val x = 1\n}\n")
            with open(os.path.join(d, "notes.txt"), "w") as f:
                f.write("not scala\n")
            out = io.StringIO()
            with redirect_stdout(out):
                sloc.main([d])
        lines = [l.split() for l in out.getvalue().splitlines()]
        self.assertEqual(lines, [["1", os.path.join(d, "A.scala")],
                                 ["3", os.path.join(d, "pkg", "B.scala")],
                                 ["4", "total"]])


if __name__ == "__main__":
    unittest.main()
