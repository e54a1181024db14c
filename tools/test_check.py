#!/usr/bin/env python3
"""Unit tests for the verdict record that tools/check.py writes.

Usage: python3 tools/test_check.py

Each test points check.LAST_CORRECTNESS at a fresh temp dir, so the
committed docs/verify/last_correctness.json is never touched.
"""
import json
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402


class VerdictRecordTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.verify_dir = os.path.join(self.tmp.name, "verify")
        os.makedirs(self.verify_dir)
        self.saved = check.LAST_CORRECTNESS
        check.LAST_CORRECTNESS = os.path.join(
            self.verify_dir, "last_correctness.json")

    def tearDown(self):
        check.LAST_CORRECTNESS = self.saved
        self.tmp.cleanup()

    def read_record(self):
        with open(check.LAST_CORRECTNESS) as f:
            return json.load(f)

    def test_aborted_run_clears_previous_verdicts(self):
        stale = {"q01_pricing_summary": {"rows_match": True,
                                         "schema_match": True,
                                         "hash_match": True,
                                         "err": None}}
        with open(check.LAST_CORRECTNESS, "w") as f:
            json.dump(stale, f)
        missing_sf = os.path.join(self.tmp.name, "no_such_sf")
        with self.assertRaises(duckdb.IOException):
            check.main(self.tmp.name, missing_sf)
        self.assertEqual(self.read_record(), {})

    def test_failed_dump_leaves_no_temp_file(self):
        with self.assertRaises(TypeError):
            check.write_incremental({"q": object()})
        leftovers = [n for n in os.listdir(self.verify_dir)
                     if n.endswith(".tmp")]
        self.assertEqual(leftovers, [])


if __name__ == "__main__":
    unittest.main()
