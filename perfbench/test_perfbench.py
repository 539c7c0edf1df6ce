"""Tests of the benchmark's own logic: the output check, the failure count
and the A/B verdict. No JVM is started.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402
import digest  # noqa: E402
import run  # noqa: E402


class DigestTest(unittest.TestCase):
    def frame(self):
        return pd.DataFrame({"k": [1, 2, 3], "v": [0.1, 0.2, None], "s": ["a", "b", "c"]})

    def test_digest_ignores_row_and_column_order(self):
        df = self.frame()
        shuffled = df.iloc[[2, 0, 1]][["s", "v", "k"]]
        self.assertEqual(digest.digest_frame(df), digest.digest_frame(shuffled))

    def test_digest_sees_a_changed_value(self):
        df = self.frame()
        changed = df.copy()
        changed.loc[0, "s"] = "z"
        self.assertNotEqual(digest.digest_frame(df)["hash"],
                            digest.digest_frame(changed)["hash"])


class OutputCheckTest(unittest.TestCase):
    """A run whose output no longer matches the pinned digest is failed."""

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        root = self.dir.name
        os.makedirs(os.path.join(root, "out", "q"))
        con = digest.connect()
        con.execute("COPY (SELECT range AS id, range * 2 AS twice FROM range(5)) "
                    f"TO '{root}/out/q/part-0.parquet' (FORMAT parquet)")
        self.good = digest.digest_parquet_dir(con, os.path.join(root, "out", "q"))
        self.record = {"keys": ["q"], "outputs": {"q": ""}, "data": None, "oracle_sql": {}}
        self.calls = [{"key": "q", "error": ""} for _ in range(3)]

    def tearDown(self):
        self.dir.cleanup()

    def check(self, pinned):
        path = os.path.join(self.dir.name, "digests.json")
        with open(path, "w") as f:
            json.dump(pinned, f)
        return run.check_outputs(self.record, self.dir.name, False, path)

    def test_matching_digest_passes(self):
        bad = self.check({"q": self.good})
        self.assertEqual(bad, {})
        self.assertEqual(run.count_failures(self.calls, bad), (3, 0))

    def test_corrupted_digest_is_a_failure(self):
        bad = self.check({"q": dict(self.good, hash="0" * 16)})
        self.assertIn("q", bad)
        self.assertEqual(run.count_failures(self.calls, bad), (3, 3))

    def test_missing_pin_and_query_error_are_failures(self):
        self.assertIn("q", self.check({}))
        self.record["outputs"]["q"] = "java.lang.RuntimeException: boom"
        self.assertIn("boom", self.check({"q": self.good})["q"])


class MetricsTest(unittest.TestCase):
    def test_tail_is_nearest_rank_p90(self):
        xs = [float(i) for i in range(1, 21)]
        self.assertEqual(run.tail(xs), (18.0, 90, 20, 2))
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 90, 3, 0))


class VerdictTest(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def test_consistent_gain_is_improved(self):
        change = [x - 1.0 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, 0.1, "lower")[0], "improved")

    def test_mixed_pairs_within_bound_are_unchanged(self):
        change = list(reversed(self.parent))
        self.assertEqual(compare.verdict(self.parent, change, 0.1, "lower")[0], "unchanged")

    def test_regression_beyond_bound_is_worse(self):
        change = [x * 1.5 for x in self.parent]
        self.assertEqual(compare.verdict(self.parent, change, 0.1, "lower")[0], "worse")

    def test_spread_wider_than_bound_is_unresolved(self):
        noisy = [5.0, 15.0, 6.0, 14.0, 10.0, 5.5, 14.5, 10.0, 9.0, 11.0]
        change = list(reversed(noisy))
        self.assertEqual(compare.verdict(noisy, change, 0.1, "lower")[0], "unresolved")


if __name__ == "__main__":
    unittest.main()
