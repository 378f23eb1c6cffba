"""Tests of the curation result check: python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import os
import tempfile
import unittest

import oracle


class OracleSignatureTest(unittest.TestCase):
    cols = ["doc_id", "score", "n"]
    rows = [(1, 0.5, 3), (2, 0.25, 4), (3, 1.0 / 3, 5)]

    def test_row_order_does_not_count(self):
        self.assertEqual(oracle.signature(self.cols, self.rows),
                         oracle.signature(self.cols, list(reversed(self.rows))))

    def test_column_order_does_not_count(self):
        swapped = [(n, s, d) for d, s, n in self.rows]
        self.assertEqual(oracle.signature(self.cols, self.rows),
                         oracle.signature(["n", "score", "doc_id"], swapped))

    def test_a_changed_row_is_rejected(self):
        changed = self.rows[:2] + [(3, 0.34, 5)]
        self.assertNotEqual(oracle.signature(self.cols, self.rows), oracle.signature(self.cols, changed))

    def test_a_missing_or_extra_row_is_rejected(self):
        sig = oracle.signature(self.cols, self.rows)
        self.assertNotEqual(sig, oracle.signature(self.cols, self.rows[1:]))
        self.assertNotEqual(sig, oracle.signature(self.cols, self.rows + [self.rows[0]]))

    def test_last_ulp_drift_is_absorbed_but_int_and_float_differ(self):
        drift = [(d, s * (1 + 1e-15), n) for d, s, n in self.rows]
        self.assertEqual(oracle.signature(self.cols, self.rows), oracle.signature(self.cols, drift))
        as_float = [(d, s, float(n)) for d, s, n in self.rows]
        self.assertNotEqual(oracle.signature(self.cols, self.rows), oracle.signature(self.cols, as_float))

    def test_parquet_result_matches_its_oracle_and_a_changed_one_does_not(self):
        import duckdb
        con = duckdb.connect()
        with tempfile.TemporaryDirectory() as d:
            con.execute(f"COPY (SELECT range AS id, range * 1.5 AS v FROM range(10)) "
                        f"TO '{os.path.join(d, 'part-0.parquet')}' (FORMAT PARQUET)")
            got = oracle.parquet_signature(con, d)
        want = oracle.signature(*oracle.fetch(con, "SELECT range AS id, range * 1.5 AS v FROM range(10)"))
        self.assertEqual(got, want)
        changed = oracle.signature(*oracle.fetch(
            con, "SELECT range AS id, CASE WHEN range = 7 THEN 0 ELSE range * 1.5 END AS v FROM range(10)"))
        self.assertNotEqual(got, changed)


if __name__ == "__main__":
    unittest.main()
