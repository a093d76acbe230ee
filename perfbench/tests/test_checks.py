"""The correctness checks reject deliberately perturbed results."""
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                ".."))
import checks  # noqa: E402


class CompareTest(unittest.TestCase):
    def frame(self):
        return pd.DataFrame({"date": pd.to_datetime(["2024-01-01",
                                                     "2024-01-02"]),
                             "hour": [3, 4], "trips": [1.25, 2.5]})

    def test_same_rows_in_any_order_pass(self):
        a = self.frame()
        self.assertIsNone(checks.compare(a, a.iloc[::-1]))

    def test_perturbed_value_is_rejected(self):
        a, b = self.frame(), self.frame()
        b.loc[1, "trips"] += 1e-6
        self.assertIn("trips", checks.compare(a, b))

    def test_missing_row_is_rejected(self):
        a = self.frame()
        self.assertIn("rows differ", checks.compare(a, a.iloc[:1]))

    def test_perturbed_key_is_rejected(self):
        a, b = self.frame(), self.frame()
        b.loc[0, "hour"] = 5
        self.assertIsNotNone(checks.compare(a, b))

    def test_same_instant_in_another_encoding_passes(self):
        a = self.frame()
        b = a.copy()
        b["date"] = b["date"].dt.tz_localize("UTC")
        self.assertIsNone(checks.compare(a, b))

    def test_vectorized_timestamps_read_like_text(self):
        s = pd.Series(pd.to_datetime(
            ["2024-01-01", "2024-01-01 05:00", "2024-01-02 05:00:00.25",
             None, "2024-03-01 00:00:00.000000007"], format="mixed"))
        for col in (s, s.dt.tz_localize("Europe/Madrid")):
            self.assertEqual(list(checks.timestamps_text(col)),
                             [checks.text(v) for v in col])


class PairsTest(unittest.TestCase):
    texts = {1: "a b c d e f g h i j", 2: "a b c d e f g h i j k",
             3: "x y z a b c q r s t", 4: "a b c d e f g h i j"}

    def sets(self):
        return {i: checks.shingles(t) for i, t in self.texts.items()}

    def test_exact_pairs_match_brute_force(self):
        s = self.sets()
        brute = {(i, j) for i in s for j in s if i < j
                 and checks.jaccard(s[i], s[j]) >= 0.7}
        self.assertEqual(checks.exact_pairs(s, 0.7), brute)

    def test_exact_cross_pairs_match_brute_force(self):
        s = self.sets()
        left = {i: s[i] for i in (1, 3)}
        right = {i: s[i] for i in (2, 4)}
        brute = {(i, j) for i in left for j in right
                 if checks.jaccard(left[i], right[j]) >= 0.7}
        self.assertEqual(brute, {(1, 2), (1, 4)})
        self.assertEqual(checks.exact_pairs(left, 0.7, right), brute)

    def test_true_pairs_pass(self):
        s = self.sets()
        pairs = pd.DataFrame({"id1": [1, 1], "id2": [2, 4],
                              "jaccard": [checks.jaccard(s[1], s[2]), 1.0]})
        self.assertEqual(checks.pair_errors(pairs, s, s, 0.7, False), 0)

    def test_false_pair_is_rejected(self):
        s = self.sets()
        pairs = pd.DataFrame({"id1": [1], "id2": [3], "jaccard": [0.8]})
        self.assertEqual(checks.pair_errors(pairs, s, s, 0.7, False), 1)

    def test_wrong_jaccard_value_is_rejected(self):
        s = self.sets()
        pairs = pd.DataFrame({"id1": [1], "id2": [2], "jaccard": [0.95]})
        self.assertEqual(checks.pair_errors(pairs, s, s, 0.7, False), 1)

    def test_lower_bound_may_undercount_but_not_overcount(self):
        s = self.sets()
        j = checks.jaccard(s[1], s[2])
        low = pd.DataFrame({"id1": [1], "id2": [2], "jaccard": [j - 0.05]})
        high = pd.DataFrame({"id1": [1], "id2": [2], "jaccard": [j + 0.05]})
        self.assertEqual(checks.pair_errors(low, s, s, 0.7, True), 0)
        self.assertEqual(checks.pair_errors(high, s, s, 0.7, True), 1)


if __name__ == "__main__":
    unittest.main()
