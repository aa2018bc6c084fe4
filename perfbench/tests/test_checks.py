"""Tests for perfbench/checks.py. Run: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402


class FingerprintTest(unittest.TestCase):
    rows = [{"k": 1, "v": 0.1 + 0.2, "tags": ["a", "b"]},
            {"k": 2, "v": None, "tags": []},
            {"k": 3, "v": -0.0, "tags": ["c"]}]

    def test_row_and_column_order_do_not_matter(self):
        a = checks.fingerprint(["k", "v", "tags"], self.rows)
        b = checks.fingerprint(["tags", "k", "v"], list(reversed(self.rows)))
        self.assertEqual(a, b)
        self.assertEqual(a["rows"], 3)

    def test_last_bits_of_floats_do_not_matter(self):
        near = [dict(r) for r in self.rows]
        near[0]["v"] = 0.3
        near[2]["v"] = 0.0
        self.assertEqual(checks.fingerprint(["k", "v", "tags"], self.rows),
                         checks.fingerprint(["k", "v", "tags"], near))

    def test_values_matter(self):
        changed = [dict(r) for r in self.rows]
        changed[1]["k"] = 4
        self.assertNotEqual(checks.fingerprint(["k", "v", "tags"], self.rows),
                            checks.fingerprint(["k", "v", "tags"], changed))
        self.assertNotEqual(checks.fingerprint(["k", "v", "tags"], self.rows),
                            checks.fingerprint(["k", "v", "tags"], self.rows[:2]))

    def test_duplicate_rows_count(self):
        one = checks.fingerprint(["k"], [{"k": 1}])
        two = checks.fingerprint(["k"], [{"k": 1}, {"k": 1}])
        self.assertNotEqual(one["hash"], two["hash"])


class CompareTest(unittest.TestCase):
    def test_agree_up_to_order_width_and_tolerance(self):
        import pyarrow as pa
        got = pa.table({"a": pa.array([2, 1], pa.int32()), "b": [2.0, 1.0000000000001]})
        exp = pa.table({"b": [1.0, 2.0], "a": pa.array([1, 2], pa.int64())})
        self.assertIsNone(checks.compare(got, exp))

    def test_reports_schema_rows_and_values(self):
        import pyarrow as pa
        self.assertIn("schema", checks.compare(pa.table({"a": [1]}), pa.table({"b": [1]})))
        self.assertIn("rows", checks.compare(pa.table({"a": [1, 2]}), pa.table({"a": [1]})))
        self.assertIn("value", checks.compare(pa.table({"a": [1.0]}), pa.table({"a": [1.1]})))

    def test_shortcut_accepts_only_what_the_rules_accept(self):
        import pyarrow as pa
        got = pa.table({"a": pa.array([2, 1], pa.int32()), "b": [2.0, 1.0000000000001]})
        exp = pa.table({"b": [1.0, 2.0], "a": pa.array([1, 2], pa.int64())})
        self.assertTrue(checks._equal_once_sorted(got, exp))
        self.assertEqual(checks.table_rows(got)[0], checks.table_rows(exp)[0])
        self.assertTrue(all(checks.close(x, y) for g, e in zip(checks.table_rows(got)[1],
                                                                checks.table_rows(exp)[1])
                            for x, y in zip(g, e)))
        self.assertFalse(checks._equal_once_sorted(got, pa.table({"a": [1, 2], "b": [1.0, 2.5]})))
        self.assertFalse(checks._equal_once_sorted(got, pa.table({"a": [1], "b": [1.0]})))

    def test_list_columns(self):
        import pyarrow as pa
        got = pa.table({"k": [1, 2], "v": [[1.0, 2.0], []]})
        exp = pa.table({"k": [2, 1], "v": [[], [1.0, 2.0000000000001]]})
        self.assertIsNone(checks.compare(got, exp))
        self.assertIsNotNone(checks.compare(got, pa.table({"k": [2, 1], "v": [[], [1.0]]})))


if __name__ == "__main__":
    unittest.main()
