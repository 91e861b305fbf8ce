import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402

ROWS = ["q|1|17|5.716562", "q|2|4|5.550095"]


class Compare(unittest.TestCase):
    def test_matching_twin_passes(self):
        self.assertEqual(checks.compare([{"name": "bm25:live", "got": ROWS, "want": list(ROWS)}]), [])

    def test_wrong_twin_fails(self):
        wrong = [ROWS[0], "q|2|4|5.550096"]  # one score off in the last digit
        self.assertEqual(checks.compare([{"name": "bm25:live", "got": ROWS, "want": wrong}]),
                         ["bm25:live"])

    def test_missing_and_reordered_rows_fail(self):
        self.assertEqual(checks.compare([{"name": "a", "got": ROWS, "want": ROWS[:1]},
                                         {"name": "b", "got": ROWS, "want": ROWS[::-1]}]),
                         ["a", "b"])


if __name__ == "__main__":
    unittest.main()
