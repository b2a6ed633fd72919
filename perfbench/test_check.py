#!/usr/bin/env python3
"""The output check reports a corrupted expected hash as a failure, and
the build is keyed on its sources.

Run: python3 perfbench/test_check.py
"""
import os
import tempfile
import unittest

import duckdb
import pandas as pd

import run


class OutputCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.out = self.tmp.name
        df = pd.DataFrame({"k": [2, 1, 1], "v": [0.5, 1.25, None], "s": ["b", "a", "c"]})
        os.makedirs(os.path.join(self.out, "q_a"))
        df.to_parquet(os.path.join(self.out, "q_a", "part-0.parquet"))
        self.good = run.canon_hash(duckdb.sql(
            "SELECT * FROM (VALUES ('a', 1, 1.25), ('c', 1, NULL), ('b', 2, 0.5)) "
            "t(s, k, v)").df())

    def tearDown(self):
        self.tmp.cleanup()

    def test_oracle_hash_matches_engine_output(self):
        self.assertEqual(run.check(self.out, ["q_a"], {"q_a": self.good}), [])

    def test_corrupted_expected_hash_is_a_failure(self):
        bad = self.good[:-1] + ("0" if self.good[-1] != "0" else "1")
        wrong = run.check(self.out, ["q_a"], {"q_a": bad})
        self.assertEqual(wrong, ["q_a"])
        res = {"attempted": 4, "failed": 0, "check_failed": []}
        self.assertEqual(run.verdict(res, wrong), (4, 1, False))

    def test_missing_output_is_a_failure(self):
        wrong = run.check(self.out, ["q_a", "q_b"], {"q_a": self.good, "q_b": self.good})
        self.assertEqual(wrong, ["q_b"])

    def test_failed_query_is_counted_once(self):
        res = {"attempted": 4, "failed": 1, "check_failed": ["q_b"]}
        self.assertEqual(run.verdict(res, ["q_b"]), (4, 1, False))


class BuildKeyTest(unittest.TestCase):
    """The build and the fixture are made again exactly when their inputs
    change, so a cached build never stands in for other sources."""

    def test_key_follows_sources_not_build_output(self):
        with tempfile.TemporaryDirectory() as root:
            src = os.path.join(root, "src", "main")
            os.makedirs(os.path.join(root, "src", "target"))
            os.makedirs(src)
            with open(os.path.join(src, "A.scala"), "w") as f:
                f.write("object A")
            key = run.source_key(["src"], root)
            with open(os.path.join(root, "src", "target", "A.class"), "w") as f:
                f.write("compiled")
            self.assertEqual(run.source_key(["src"], root), key)
            with open(os.path.join(src, "A.scala"), "a") as f:
                f.write(" { }")
            self.assertNotEqual(run.source_key(["src"], root), key)


if __name__ == "__main__":
    unittest.main()
