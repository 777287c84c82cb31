"""Tests of the query-mix output check in run.py, which runs the
repository's oracle gate (compare_oracle.py) over the written outputs.

    python3 -m unittest perfbench/test_run.py
"""
import json
import os
import sys
import tempfile
import time
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


class CheckQueriesTest(unittest.TestCase):
    def setUp(self):
        root = tempfile.mkdtemp()
        # the gate opens a view on every table of the star schema
        self.sf = os.path.join(root, "sf")
        os.makedirs(self.sf)
        for t in TABLES:
            pq.write_table(pa.table({"x": [1]}), os.path.join(self.sf, f"{t}.parquet"))
        self.out = os.path.join(root, "out")
        os.makedirs(os.path.join(self.out, "q01_x"))
        pq.write_table(pa.table({"k": ["a", "b"], "n": pa.array([3, 5], pa.int64()),
                                 "x": [0.5, 1.25]}), os.path.join(self.out, "q01_x", "part-0.parquet"))

    def check(self, oracle, executions=None):
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as f:
            json.dump(oracle, f)
        return run.check_queries(self.out, self.sf, executions or {"q01_x": 3}, time.time() + 60)

    def test_equal_output_passes_in_any_row_order(self):
        sql = "SELECT * FROM (VALUES ('b', 5::BIGINT, 1.25::DOUBLE), ('a', 3, 0.5)) t(k, n, x)"
        self.assertEqual(self.check({"q01_x": sql}), (0, {}))

    def test_wrong_expected_value_fails_every_execution(self):
        sql = "SELECT * FROM (VALUES ('a', 3::BIGINT, 0.5::DOUBLE), ('b', 6, 1.25)) t(k, n, x)"
        failed, diffs = self.check({"q01_x": sql})
        self.assertEqual(failed, 3)
        self.assertIn("n[1]", diffs["q01_x"])

    def test_wrong_type_fails(self):
        sql = "SELECT * FROM (VALUES ('a', 3.0::DOUBLE, 0.5::DOUBLE), ('b', 5.0, 1.25)) t(k, n, x)"
        failed, diffs = self.check({"q01_x": sql})
        self.assertEqual(failed, 3)
        self.assertIn("dtype", diffs["q01_x"])

    def test_missing_output_fails(self):
        sql = "SELECT 1 AS k"
        failed, diffs = self.check({"q01_x": sql, "q02_y": sql}, {"q01_x": 0, "q02_y": 2})
        self.assertEqual(failed, 2)
        self.assertIn("no spark output", diffs["q02_y"])


if __name__ == "__main__":
    unittest.main()
