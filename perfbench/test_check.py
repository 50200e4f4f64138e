"""The checker must be able to fail: it is fed results with one row dropped
and with one value changed, and must reject each.

    python3 perfbench/test_check.py
"""
import unittest
from pathlib import Path

import check

DATA = Path(__file__).resolve().parent / "data" / "sf0.1"


class CheckerFails(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        con = check.connect(DATA)
        # a real oracle shape: ints, strings and rounded doubles
        cls.want = con.sql(
            "SELECT o_custkey, count(*)::BIGINT AS n, round(sum(o_totalprice), 2) AS total "
            "FROM orders GROUP BY o_custkey").df()

    def got(self):
        # the program's rows arrive in another order and column order
        return self.want.sample(frac=1.0, random_state=7)[["total", "o_custkey", "n"]].copy()

    def test_equal_result_passes(self):
        self.assertEqual(check.compare("q", self.got(), self.want), [])

    def test_dropped_row_fails(self):
        self.assertNotEqual(check.compare("q", self.got().iloc[1:], self.want), [])

    def test_changed_int_fails(self):
        got = self.got()
        got.iloc[5, got.columns.get_loc("n")] += 1
        self.assertNotEqual(check.compare("q", got, self.want), [])

    def test_changed_double_fails(self):
        got = self.got()
        got.iloc[5, got.columns.get_loc("total")] += 0.01
        self.assertNotEqual(check.compare("q", got, self.want), [])

    def test_pagerank_mass_fails(self):
        ranks = self.want[["o_custkey"]].head(100).rename(columns={"o_custkey": "node"})
        ranks["rank"] = 1.0 / len(ranks)
        self.assertEqual(check.pagerank_mass(ranks), [])
        self.assertNotEqual(check.pagerank_mass(ranks.iloc[1:]), [])


if __name__ == "__main__":
    unittest.main()
