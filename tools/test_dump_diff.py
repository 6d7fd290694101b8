"""Tests for dump_diff.py over tiny parquet dump dirs.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import dump_diff  # noqa: E402


def dump(root, name, table):
    """One query's output the way Verify writes it: a parquet directory."""
    qdir = os.path.join(root, name)
    os.makedirs(qdir)
    pq.write_table(table, os.path.join(qdir, "part-00000.parquet"))
    open(os.path.join(qdir, "_SUCCESS"), "w").close()


def oracles(root, sql_by_key):
    """The oracle_sql.json Verify writes beside the query dirs."""
    with open(os.path.join(root, "oracle_sql.json"), "w") as fh:
        json.dump(sql_by_key, fh)


def run(parent, change):
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = dump_diff.main([parent, change])
    return code, out.getvalue()


class DumpDiff(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.parent = os.path.join(self.tmp.name, "parent")
        self.change = os.path.join(self.tmp.name, "change")
        os.makedirs(self.parent)
        os.makedirs(self.change)

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_rows_in_another_order_and_column_order_match(self):
        dump(self.parent, "q_a", pa.table({"k": [1, 2, 2], "v": [0.5, 1.0, 1.0]}))
        dump(self.change, "q_a", pa.table({"v": [1.0, 0.5, 1.0], "k": [2, 1, 2]}))
        code, out = run(self.parent, self.change)
        self.assertEqual(code, 0, out)
        self.assertIn("1 queries compared, 0 differ", out)

    def test_last_bit_of_a_float_differs(self):
        dump(self.parent, "q_a", pa.table({"v": [0.1 + 0.2]}))
        dump(self.change, "q_a", pa.table({"v": [0.3]}))
        dump(self.parent, "q_b", pa.table({"v": [1.0]}))
        dump(self.change, "q_b", pa.table({"v": [1.0]}))
        code, out = run(self.parent, self.change)
        self.assertEqual(code, 1)
        self.assertIn("DIFF q_a:", out)
        self.assertNotIn("DIFF q_b", out)

    def test_multiplicity_columns_and_missing_queries(self):
        dump(self.parent, "q_dup", pa.table({"k": [1, 1]}))
        dump(self.change, "q_dup", pa.table({"k": [1]}))
        dump(self.parent, "q_cols", pa.table({"k": [1]}))
        dump(self.change, "q_cols", pa.table({"j": [1]}))
        dump(self.parent, "q_gone", pa.table({"k": [1]}))
        dump(self.change, "q_new", pa.table({"k": [1]}))
        code, out = run(self.parent, self.change)
        self.assertEqual(code, 1)
        for name in ("q_dup", "q_cols", "q_gone", "q_new"):
            self.assertIn(f"DIFF {name}:", out)
        self.assertIn("4 queries compared, 4 differ", out)

    def test_oracle_sql_equal_after_whitespace_collapse(self):
        oracles(self.parent, {"q_a": "SELECT 1 AS x\n  FROM t\tWHERE y = 2"})
        oracles(self.change, {"q_a": "  SELECT 1 AS x FROM t\n\n WHERE  y = 2\n"})
        code, out = run(self.parent, self.change)
        self.assertEqual(code, 0, out)
        self.assertIn("1 oracle keys compared, 0 differ", out)

    def test_oracle_sql_text_and_missing_keys_differ(self):
        oracles(self.parent, {"q_a": "SELECT 1 AS x", "q_same": "SELECT 2",
                              "q_gone": "SELECT 3"})
        oracles(self.change, {"q_a": "SELECT 1 AS y", "q_same": "SELECT 2",
                              "q_new": "SELECT 4"})
        code, out = run(self.parent, self.change)
        self.assertEqual(code, 1)
        self.assertIn("ORACLE q_a: SQL differs from character 12", out)
        self.assertIn("ORACLE q_gone: only in parent", out)
        self.assertIn("ORACLE q_new: only in change", out)
        self.assertNotIn("ORACLE q_same", out)
        self.assertIn("4 oracle keys compared, 3 differ", out)
        # the row check alone passed: only the oracle check failed
        self.assertIn("0 queries compared, 0 differ", out)

    def test_oracle_file_on_one_side_only(self):
        oracles(self.parent, {"q_a": "SELECT 1"})
        code, out = run(self.parent, self.change)
        self.assertEqual(code, 1)
        self.assertIn("ORACLE q_a: only in parent", out)


if __name__ == "__main__":
    unittest.main()
