"""Tests of the seeded generators: python3 -m unittest discover perfbench/tests"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import gen  # noqa: E402


def same_tree(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n),
                           shallow=False) for n in names)


class GenTest(unittest.TestCase):
    def generate(self, fn):
        """Run ``fn(dir, seed)`` for seeds 7, 7 and 8 into fresh dirs;
        return [(dir, result)] in that order."""
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        out = []
        for i, seed in enumerate((7, 7, 8)):
            d = os.path.join(tmp.name, str(i))
            out.append((d, fn(d, seed)))
        return out

    def test_csv_repeats_per_seed(self):
        (a, fa), (b, fb), (c, fc) = self.generate(
            lambda d, s: gen.etl_csv(d, s, 61_000))
        self.assertTrue(same_tree(a, b))
        self.assertEqual(fa, fb)
        self.assertFalse(filecmp.cmp(f"{a}/rent_contracts.csv",
                                     f"{c}/rent_contracts.csv", shallow=False))
        self.assertNotEqual(fa, fc)

    def test_planted_rows_lie_past_the_profiled_sample(self):
        (_, facts), _, _ = self.generate(
            lambda d, s: gen.etl_csv(d, s, 61_000))
        planted = facts["rent_contracts"]["planted"]
        self.assertEqual(len(planted), 12)
        self.assertTrue(all(i - gen.ID_BASE >= gen.PROFILE_ROWS
                            for i in planted))

    def test_hour_files_repeat_per_seed(self):
        (a, ra), (b, rb), (c, _) = self.generate(
            lambda d, s: gen.ais_hours(d, s, 12, 50, 3, 0.3, 7))
        self.assertTrue(same_tree(a, b))
        self.assertEqual(ra, rb)
        self.assertEqual(len(os.listdir(a)), 12)
        self.assertFalse(same_tree(a, c))

    def test_tables_repeat_per_seed(self):
        (a, _), (b, _), (c, _) = self.generate(
            lambda d, s: gen.tables(d, s, 0.001))
        self.assertTrue(same_tree(a, b))
        self.assertFalse(filecmp.cmp(f"{a}/lineitem.parquet",
                                     f"{c}/lineitem.parquet", shallow=False))


if __name__ == "__main__":
    unittest.main()
