"""Generator and output-check tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402


class GenTest(unittest.TestCase):
    def generate(self, seed, tables=gen.TABLES):
        with tempfile.TemporaryDirectory() as d:
            return gen.generate(d, seed, sf=0.001, tables=tables)

    def test_same_seed_same_tables(self):
        self.assertEqual(self.generate(7)["sha256"], self.generate(7)["sha256"])

    def test_other_seed_other_tables(self):
        a, b = self.generate(7)["sha256"], self.generate(8)["sha256"]
        # region and nation are fixed reference tables
        for t in gen.TABLES[2:]:
            self.assertNotEqual(a[t], b[t], t)

    def test_subset_equals_full_set(self):
        full, sub = self.generate(7), self.generate(7, ["lineitem", "embeddings"])
        self.assertEqual(sorted(sub["sha256"]), ["embeddings", "lineitem"])
        for t in sub["sha256"]:
            self.assertEqual(sub["sha256"][t], full["sha256"][t], t)

    def test_properties(self):
        p = self.generate(7)
        self.assertEqual(p["rows"]["lineitem"], 6000)
        self.assertAlmostEqual(p["near_duplicate_fraction"]["documents"],
                               gen.NEAR_DUP_FRACTION)
        self.assertGreater(p["rank_tie_ratio"]["l_quantity"], 0.9)
        self.assertLess(p["rank_tie_ratio"]["l_extendedprice"], 0.1)


class CheckTest(unittest.TestCase):
    def test_compare_ignores_row_order_and_last_bits(self):
        a = pd.DataFrame({"k": [1, 2, 3], "x": [0.1, None, 0.3 + 1e-15]})
        b = pd.DataFrame({"x": [0.3, 0.1, None], "k": [3, 1, 2]})
        self.assertIsNone(run.compare(a, b))

    def test_compare_finds_differences(self):
        a = pd.DataFrame({"k": [1, 2], "x": [0.1, 0.2]})
        self.assertIn("x", run.compare(a, a.assign(x=[0.1, 0.25])))
        self.assertIn("x", run.compare(a, a.assign(x=[0.1, None])))
        self.assertIn("rows", run.compare(a, a.head(1)))

    def test_spearman_reference_matches_pandas(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, 3, sf=0.001, tables=["lineitem"])
            got = run.spearman_by(d, "l_suppkey")
            li = pd.read_parquet(os.path.join(d, "lineitem.parquet"))
        for key, grp in li.groupby("l_suppkey"):
            want = grp[run.RANK_COLS].corr(method="spearman")
            for _, r in got[got.l_suppkey == key].iterrows():
                self.assertAlmostEqual(r["corr"], want.loc[r.c1, r.c2], places=12)
        k = len(run.RANK_COLS)
        self.assertEqual(len(got), li.l_suppkey.nunique() * k * (k + 1) // 2)


if __name__ == "__main__":
    unittest.main()
