#!/usr/bin/env python3
"""Self-tests of the benchmark's Python side: the output normalization, the
oracle check that rejects a planted wrong answer, the spread and the
comparator's verdicts.

Usage (from the repository root):  python3 perfbench/test_run.py
The Scala side's tests: cd perfbench && sbt test
"""
import json
import os
import shutil
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402
import run  # noqa: E402
import series  # noqa: E402


class Normalization(unittest.TestCase):
    def test_order_of_rows_and_columns_does_not_matter(self):
        a = run.table_hash([(1, "x", 0.1), (2, "y", 0.2)], ["id", "s", "v"])
        b = run.table_hash([("y", 0.2, 2), ("x", 0.1, 1)], ["s", "v", "id"])
        self.assertEqual(a, b)

    def test_floats_compare_at_six_significant_digits(self):
        self.assertEqual(run.canon(0.1234564), run.canon(0.12345641))
        self.assertNotEqual(run.canon(0.123456), run.canon(0.123457))


class OracleCheck(unittest.TestCase):
    def setUp(self):
        import duckdb
        self.work = os.path.join(run.WORK, "selftest")
        shutil.rmtree(self.work, ignore_errors=True)
        con = duckdb.connect()
        for t in run.QUERY_TABLES:
            d = os.path.join(self.work, "run", "data", f"{t}.parquet")
            os.makedirs(d)
            con.execute(f"COPY (SELECT range AS k, range * 0.5 AS v FROM range(10)) "
                        f"TO '{d}/part-0.parquet' (FORMAT parquet)")
        self.con = con

    def tearDown(self):
        shutil.rmtree(self.work, ignore_errors=True)

    def check(self, spark_sql):
        out = os.path.join(self.work, "out", "q")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        self.con.execute(f"COPY ({spark_sql}) TO '{out}/part-0.parquet' (FORMAT parquet)")
        with open(os.path.join(self.work, "oracle_sql.json"), "w") as f:
            json.dump({"q": "SELECT k, sum(v) AS s FROM documents GROUP BY k"}, f)
        return run.oracle_mismatches(self.work)

    def test_matching_output_passes(self):
        self.assertEqual(self.check("SELECT range AS k, range * 0.5 AS s FROM range(10)"), {})

    def test_planted_wrong_answer_is_rejected(self):
        self.assertIn("q", self.check("SELECT range AS k, range * 0.5 + (range = 3)::INT AS s "
                                      "FROM range(10)"))
        self.assertIn("q", self.check("SELECT range AS k, range * 0.5 AS s FROM range(9)"))


class Verdicts(unittest.TestCase):
    def test_spread_is_quartile_distance_over_median(self):
        sp, med = series.spread([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual(med, 3.0)
        self.assertAlmostEqual(sp, 3.0 / 3.0)

    def test_verdicts(self):
        base = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
        faster = [x * 0.8 for x in base]
        v = compare.verdict(base, faster, "lower", 0.1, list(zip(base, faster)))[0]
        self.assertEqual(v, "improved")
        same = list(reversed(base))
        v = compare.verdict(base, same, "lower", 0.1, list(zip(base, same)))[0]
        self.assertEqual(v, "no worse")
        slower = [x * 1.3 for x in base]
        v = compare.verdict(base, slower, "lower", 0.1, list(zip(base, slower)))[0]
        self.assertEqual(v, "worse")
        noisy = [5.0, 15.0, 7.0, 13.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        v = compare.verdict(base, noisy, "lower", 0.1, list(zip(base, noisy)))[0]
        self.assertEqual(v, "unresolved")


if __name__ == "__main__":
    unittest.main()
