"""The answer comparison."""
import datetime as dt
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402


class CompareTest(unittest.TestCase):
    def test_columns_by_name_rows_as_multiset(self):
        a = oracle.table(["b", "a"], [(1, "x"), (2, "y")])
        b = oracle.table(["a", "b"], [("y", 2.0), ("x", 1)])
        self.assertEqual(oracle.diff(a, b), "")
        self.assertIn("row", oracle.diff(a, oracle.table(["a", "b"], [("y", 2), ("x", 3)])))

    def test_midnight_timestamp_equals_date(self):
        self.assertEqual(oracle.canon(dt.datetime(2024, 1, 18)), oracle.canon(dt.date(2024, 1, 18)))
        self.assertNotEqual(oracle.canon(dt.datetime(2024, 1, 18, 0, 0, 1)),
                            oracle.canon(dt.date(2024, 1, 18)))


if __name__ == "__main__":
    unittest.main()
