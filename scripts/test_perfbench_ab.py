"""Summary arithmetic of perfbench_ab.py.

    python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import perfbench_ab as ab  # noqa: E402

WALL = {"name": "wall_s", "better": "lower", "bound": 0.25}
CAP = {"name": "eps", "better": "higher", "bound": 0.2}


def pairs(parent, change, name="wall_s"):
    return [({name: p}, {name: c}) for p, c in zip(parent, change)]


class QuartilesTest(unittest.TestCase):
    def test_inclusive_quartiles(self):
        self.assertEqual(ab.quartiles([4, 1, 3, 2, 5]), (2.0, 3.0, 4.0))

    def test_one_sample(self):
        self.assertEqual(ab.quartiles([7.0]), (7.0, 7.0, 7.0))


class SummarizeTest(unittest.TestCase):
    def test_clear_win_holds_the_claim(self):
        parent = [5.0, 5.1, 4.9, 5.2, 4.8, 5.0, 5.1, 4.9, 5.0, 5.0]
        change = [x - 1.0 for x in parent]
        [r] = ab.summarize(pairs(parent, change), [WALL], claim="wall_s")
        self.assertEqual((r["wins"], r["losses"], r["n"]), (10, 0, 10))
        self.assertAlmostEqual(r["gap"], 1.0)
        self.assertTrue(r["claim_ok"])
        self.assertTrue(r["within_bound"])
        self.assertAlmostEqual(r["rel"], -0.2)

    def test_eight_of_ten_is_not_a_claim(self):
        parent = [5.0] * 10
        change = [4.0] * 8 + [6.0] * 2
        [r] = ab.summarize(pairs(parent, change), [WALL], claim="wall_s")
        self.assertEqual(r["wins"], 8)
        self.assertFalse(r["claim_ok"])

    def test_gap_inside_parent_spread_is_not_a_claim(self):
        parent = [3.0, 7.0] * 5
        change = [p - 0.5 for p in parent]
        [r] = ab.summarize(pairs(parent, change), [WALL], claim="wall_s")
        self.assertEqual(r["wins"], 10)
        self.assertAlmostEqual(r["parent_iqr"], 4.0)
        self.assertFalse(r["claim_ok"])

    def test_ties_count_for_neither_side(self):
        [r] = ab.summarize(pairs([1.0, 2.0, 3.0], [1.0, 1.0, 4.0]), [WALL])
        self.assertEqual((r["wins"], r["losses"]), (1, 1))
        self.assertNotIn("claim_ok", r)

    def test_higher_is_better_and_bound(self):
        ps = pairs([100.0] * 4, [70.0] * 4, name="eps")
        [r] = ab.summarize(ps, [CAP])
        self.assertEqual(r["losses"], 4)
        self.assertAlmostEqual(r["rel"], -0.3)
        self.assertFalse(r["within_bound"])

    def test_metric_missing_on_a_side_is_skipped(self):
        ps = [({"wall_s": 1.0}, {})]
        self.assertEqual(ab.summarize(ps, [WALL]), [])


class PairsFromTest(unittest.TestCase):
    def test_incomplete_and_failed_pairs_drop(self):
        recs = [
            {"pair": 0, "side": "parent", "correct": True,
             "metrics": {"wall_s": 5.0}},
            {"pair": 0, "side": "change", "correct": True,
             "metrics": {"wall_s": 4.0}},
            {"pair": 1, "side": "change", "correct": True,
             "metrics": {"wall_s": 4.0}},
            {"pair": 2, "side": "parent", "correct": False,
             "metrics": {}},
            {"pair": 2, "side": "change", "correct": True,
             "metrics": {"wall_s": 4.0}},
        ]
        self.assertEqual(ab.pairs_from(recs),
                         [({"wall_s": 5.0}, {"wall_s": 4.0})])


if __name__ == "__main__":
    unittest.main()
