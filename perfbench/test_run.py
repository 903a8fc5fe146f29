"""Tests of the runner's own logic: no-overwrite artifacts and the oracle
comparison. Run: python3 -m unittest perfbench/test_run.py"""
import decimal
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class RunnerTest(unittest.TestCase):
    def test_write_new_never_overwrites(self):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "a.oracle.json")
            run.write_new(p, "first")
            with self.assertRaises(FileExistsError):
                run.write_new(p, "second")
            with open(p) as f:
                self.assertEqual(f.read(), "first")

    def test_values_compare_by_type_family(self):
        self.assertTrue(run.values_equal(1, 1))
        self.assertFalse(run.values_equal(decimal.Decimal(5), 5))
        self.assertTrue(run.values_equal(1.0, 1.0 + 1e-12))
        self.assertFalse(run.values_equal(1.0, 1.001))
        self.assertTrue(run.values_equal([1, 2], (1, 2)))
        self.assertFalse(run.values_equal([1, 2], [1, 3]))

    def test_canon_sorts_columns_and_rows(self):
        import pandas as pd
        a = run.canon(pd.DataFrame({"b": [2, 1], "a": ["y", "x"]}))
        self.assertEqual(list(a.columns), ["a", "b"])
        self.assertEqual(a["a"].tolist(), ["x", "y"])


if __name__ == "__main__":
    unittest.main()
