"""The query output check: a matching result passes, a changed result
fails, and an oracle past its budget is a skip, which fails the run.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import oracle  # noqa: E402
import run  # noqa: E402


class OracleTest(unittest.TestCase):
    def setUp(self):
        root = tempfile.mkdtemp()
        self.data = os.path.join(root, "data")
        self.results = os.path.join(root, "results")
        self.cache = os.path.join(root, "cache")
        os.makedirs(self.data)
        pq.write_table(pa.table({"k": [1, 2, 2, 3], "v": [1.5, 2.0, 3.0, None]}),
                       os.path.join(self.data, "t.parquet"))

    def answer(self, name, sql, table):
        d = os.path.join(self.results, name)
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
        path = os.path.join(self.results, "oracle_sql.json")
        sqls = json.load(open(path)) if os.path.exists(path) else {}
        sqls[name] = sql
        with open(path, "w") as f:
            json.dump(sqls, f)

    def test_match_mismatch_and_cache(self):
        sql = "SELECT k, sum(v) AS s FROM t GROUP BY k"
        # row order and column order do not matter
        self.answer("q_ok", sql, pa.table({"s": [None, 5.0, 1.5], "k": [3, 2, 1]}))
        self.answer("q_bad", sql, pa.table({"k": [1, 2, 3], "s": [1.5, 5.5, None]}))
        got = oracle.check(self.data, self.results, self.cache, timeout=30)
        self.assertEqual(got["q_ok"], "ok")
        self.assertNotEqual(got["q_bad"], "ok")
        self.assertEqual(len(os.listdir(self.cache)), 1)  # one (data, SQL) pair
        again = oracle.check(self.data, self.results, self.cache, timeout=30)
        self.assertEqual(again, got)

    def test_dtype_kind_is_checked(self):
        self.answer("q", "SELECT k FROM t", pa.table({"k": [1.0, 2.0, 2.0, 3.0]}))
        self.assertNotEqual(oracle.check(self.data, self.results, self.cache, 30)["q"], "ok")

    def test_timeout_is_a_skip(self):
        slow = "SELECT count(*) AS n FROM range(100000000) a, range(100000) b WHERE a.range % 7 = b.range"
        self.answer("q_slow", slow, pa.table({"n": [0]}))
        got = oracle.check(self.data, self.results, self.cache, timeout=0.5)
        self.assertEqual(got["q_slow"], "skip")
        self.assertEqual(os.listdir(self.cache), [])


class VerdictTest(unittest.TestCase):
    def test_all_skip_run_is_not_correct(self):
        record = {"failures": [], "oracle": {"q03": "skip", "q85": "skip"}}
        self.assertEqual(len(run.verdict(record)), 2)

    def test_clean_run_is_correct(self):
        record = {"failures": [], "oracle": {"q03": "ok", "q85": "ok"}}
        self.assertEqual(run.verdict(record), [])
        self.assertEqual(run.verdict({"failures": []}), [])  # etl_daily has no oracle

    def test_jvm_failures_come_first(self):
        record = {"failures": ["q04: boom"], "oracle": {"q03": "result differs"}}
        self.assertEqual(run.verdict(record), ["q04: boom", "q03: result differs"])


if __name__ == "__main__":
    unittest.main()
