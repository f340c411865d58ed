import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import oracle  # noqa: E402


class FingerprintTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")

    def fp(self, sql):
        return oracle.fingerprint(self.con, sql)

    def test_row_order_and_column_order_do_not_matter(self):
        a = self.fp("SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, v)")
        b = self.fp("SELECT v, k FROM (VALUES (2, 'y'), (1, 'x')) t(k, v)")
        self.assertEqual(a, b)

    def test_numbers_compare_by_value_across_types(self):
        a = self.fp("SELECT CAST(12.50 AS DECIMAL(10,2)) AS p, CAST(3 AS BIGINT) AS q")
        b = self.fp("SELECT CAST(12.5 AS DOUBLE) AS p, CAST(3.0 AS DOUBLE) AS q")
        self.assertEqual(a, b)

    def test_one_changed_value_changes_the_hash(self):
        a = self.fp("SELECT * FROM range(1000) t(k)")
        b = self.fp("SELECT CASE WHEN k = 500 THEN 5000 ELSE k END AS k FROM range(1000) t(k)")
        self.assertEqual(a["rows"], b["rows"])
        self.assertNotEqual(a["hash"], b["hash"])

    def test_null_differs_from_empty(self):
        a = self.fp("SELECT CAST(NULL AS VARCHAR) AS s")
        b = self.fp("SELECT '' AS s")
        self.assertNotEqual(a, b)

    def test_parquet_roundtrip_matches_the_query(self):
        sql = ("SELECT k, CAST(k AS DECIMAL(12,2)) / 4 AS m, TIMESTAMP '2001-02-03 04:05:06' AS ts "
               "FROM range(50) t(k)")
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "out"))
            self.con.execute(f"COPY ({sql}) TO '{d}/out/part-0.parquet' (FORMAT PARQUET)")
            self.assertEqual(self.fp(oracle.parquet_sql(os.path.join(d, "out"))), self.fp(sql))


if __name__ == "__main__":
    unittest.main()
