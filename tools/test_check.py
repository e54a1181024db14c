#!/usr/bin/env python3
"""Unit tests for the verdict record and the output of tools/check.py.

Usage: python3 tools/test_check.py

Each test points check.LAST_CORRECTNESS at a fresh temp dir, so the
committed docs/verify/last_correctness.json is never touched.
"""
import contextlib
import io
import json
import os
import re
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

    def test_pass_line_carries_time_and_summary_is_last(self):
        # one-query fixture: tiny tables and the Spark-side result, all
        # written to parquet by DuckDB
        sf = os.path.join(self.tmp.name, "sf")
        out = os.path.join(self.tmp.name, "out")
        os.makedirs(sf)
        os.makedirs(os.path.join(out, "q_nation"))
        con = duckdb.connect()
        for t in check.TABLES:
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM (VALUES "
                        "(0, 'ALGERIA', 1, 'error'), (1, 'ARGENTINA', 2, 'x')) "
                        "v(n_nationkey, n_name, user_id, event_type)")
            con.execute(f"COPY {t} TO '{sf}/{t}.parquet' (FORMAT PARQUET)")
        sql = "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"
        con.execute(f"COPY ({sql}) TO '{out}/q_nation/part-0.parquet' "
                    "(FORMAT PARQUET)")
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump({"q_nation": sql}, f)
        stdout = io.StringIO()
        with contextlib.redirect_stdout(stdout):
            rc = check.main(out, sf)
        lines = stdout.getvalue().splitlines()
        self.assertEqual(rc, 0)
        self.assertRegex(lines[0], r"^PASS q_nation \[\d+\.\d{2} s\]: ")
        # the summary is the only line tools/verify.sh's grep matches,
        # and the last one
        summaries = [ln for ln in lines if re.match(r"^== .* ==$", ln)]
        self.assertEqual(summaries, ["== 1 pass / 0 fail =="])
        self.assertEqual(lines[-1], summaries[0])

if __name__ == "__main__":
    unittest.main()
