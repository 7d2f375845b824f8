"""Tests of the output comparator.

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import pandas as pd

from compare import compare


def answer() -> pd.DataFrame:
    return pd.DataFrame({
        "user_id": [3, 1, 2, 2],
        "t_start_us": [1704095954253229, 1704067211172425, 1704070000000001,
                       1704080000000002],
        "value": [29.27, 122.79, float("nan"), 2.11],
    })


class CompareTest(unittest.TestCase):
    def test_equal_in_any_row_and_column_order(self):
        got = answer().iloc[::-1][["value", "user_id", "t_start_us"]]
        ok, msg = compare(got, answer())
        self.assertTrue(ok, msg)

    def test_planted_wrong_value_fails(self):
        got = answer()
        got.loc[0, "t_start_us"] = 1704095954253000  # microseconds truncated
        ok, msg = compare(got, answer())
        self.assertFalse(ok)
        self.assertIn("t_start_us", msg)

    def test_planted_wrong_float_fails(self):
        got = answer()
        got.loc[1, "value"] = math.nextafter(122.79, 200.0)  # one ulp off
        self.assertFalse(compare(got, answer())[0])

    def test_dropped_row_fails(self):
        got = answer().drop(index=2)
        ok, msg = compare(got, answer())
        self.assertFalse(ok)
        self.assertIn("rows", msg)

    def test_duplicated_row_fails(self):
        got = pd.concat([answer(), answer().iloc[[1]]], ignore_index=True)
        self.assertFalse(compare(got, answer())[0])

    def test_duplicate_replacing_a_row_fails(self):
        # Same row count: one row doubled, another missing.
        got = answer()
        got.iloc[3] = got.iloc[2]
        self.assertFalse(compare(got, answer())[0])

    def test_missing_column_fails(self):
        got = answer().drop(columns=["value"])
        self.assertFalse(compare(got, answer())[0])


if __name__ == "__main__":
    unittest.main()
