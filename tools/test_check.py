"""Tests for the one DuckDB compare (check.py).

    python3 -m unittest discover -s tools

Each case builds a tiny sf directory and a Verify-shaped dump (one parquet
directory per query plus oracle_sql.json) in a temp dir and scores it.
"""
import contextlib, datetime, io, json, os, re, subprocess, sys, tempfile
import unittest
from unittest import mock

import pandas as pd

import check

HERE = os.path.dirname(os.path.abspath(__file__))


class CheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.sf = f"{self.tmp.name}/sf"
        os.makedirs(self.sf)
        for t in check.TABLES:
            pd.DataFrame({"x": [1]}).to_parquet(f"{self.sf}/{t}.parquet")

    def tearDown(self):
        self.tmp.cleanup()

    def score(self, spark, oracle, *flags):
        """Dumps `spark` (name -> DataFrame), scores it against `oracle`
        (name -> SQL); returns (exit code, artifact rows)."""
        dump = tempfile.mkdtemp(dir=self.tmp.name)
        for name, df in spark.items():
            os.makedirs(f"{dump}/{name}")
            df.to_parquet(f"{dump}/{name}/part-0.parquet")
        with open(f"{dump}/oracle_sql.json", "w") as f:
            json.dump(oracle, f)
        self.artifact = f"{dump}/artifact.json"
        with contextlib.redirect_stdout(io.StringIO()):
            rc = check.main([self.sf, dump, "--artifact", self.artifact, *flags])
        with open(self.artifact) as f:
            rows = json.load(f)
        return rc, rows.get("queries", rows)

    def verdict(self, spark_df, sql, *flags):
        rc, rows = self.score({"q": spark_df}, {"q": sql}, *flags)
        self.assertEqual(rc, 0 if rows["q"]["hash_match"] else 1)
        return rows["q"]["hash_match"]

    def every_path(self, spark_df, sql):
        """Verdicts of the sorted compare, the big-frame hash and the
        budgeted parallel run."""
        out = [self.verdict(spark_df, sql)]
        with mock.patch.object(check, "BIG_ROWS", 1):
            out.append(self.verdict(spark_df, sql))
            out.append(self.verdict(spark_df, sql, "--budget", "60"))
        return out

    def test_missing_dump_is_red_and_fails_the_guard(self):
        rc, rows = self.score(
            {"a": pd.DataFrame({"v": [1]})},
            {"a": "SELECT 1 AS v", "b": "SELECT 2 AS v"})
        self.assertEqual(rc, 1)
        self.assertTrue(rows["a"]["hash_match"])
        self.assertEqual(rows["b"]["err"], "missing spark output")
        self.assertFalse(check.green(rows["b"]))
        guard = subprocess.run(
            [sys.executable, f"{HERE}/artifact_guard.py", self.artifact, "2"],
            capture_output=True)
        self.assertEqual(guard.returncode, 2)

    def test_guard_scores_the_queries_of_a_budgeted_artifact(self):
        rc, rows = self.score(
            {"a": pd.DataFrame({"v": [1]}), "b": pd.DataFrame({"v": [2]})},
            {"a": "SELECT 1 AS v", "b": "SELECT 2 AS v"}, "--budget", "60")
        self.assertEqual(rc, 0)
        guard = subprocess.run(
            [sys.executable, f"{HERE}/artifact_guard.py", self.artifact, "2"],
            capture_output=True, text=True)
        self.assertEqual(guard.returncode, 0, guard.stdout)
        self.assertIn("2 green, 0 red, 2 total", guard.stdout)

    def test_float_off_by_1e11_is_red_on_every_path(self):
        wrong = pd.DataFrame({"v": [194.2800000019428, 1.0]})
        sql = "SELECT * FROM (VALUES (194.28::DOUBLE), (1.0::DOUBLE)) t(v)"
        self.assertEqual(self.every_path(wrong, sql), [False] * 3)

    def test_exact_float_is_green_on_every_path(self):
        right = pd.DataFrame({"v": [194.28, 1.0]})
        sql = "SELECT * FROM (VALUES (194.28::DOUBLE), (1.0::DOUBLE)) t(v)"
        self.assertEqual(self.every_path(right, sql), [True] * 3)

    def test_null_against_zero_is_red(self):
        nulls = pd.DataFrame({"v": [None, 1.0]}, dtype="float64")
        sql = "SELECT * FROM (VALUES (0.0::DOUBLE), (1.0::DOUBLE)) t(v)"
        self.assertEqual(self.every_path(nulls, sql), [False] * 3)

    def test_signed_zero_and_nan_are_green(self):
        df = pd.DataFrame({"v": [0.0, float("nan")]})
        sql = "SELECT * FROM (VALUES ('-0.0'::DOUBLE), ('nan'::DOUBLE)) t(v)"
        self.assertEqual(self.every_path(df, sql), [True] * 3)

    def test_rows_only_is_green_iff_it_has_rows(self):
        rc, rows = self.score({"full": pd.DataFrame({"v": [1]}),
                               "empty": pd.DataFrame({"v": pd.Series([], dtype="int64")})},
                              {})
        self.assertTrue(check.green(rows["full"]))
        self.assertFalse(check.green(rows["empty"]))
        self.assertEqual(rc, 1)

    def test_list_cells_and_dates_compare_as_before(self):
        df = pd.DataFrame({"l": [[1, 2], [3]],
                           "d": [datetime.date(2024, 1, 2), datetime.date(2024, 1, 3)]})
        sql = ("SELECT * FROM (VALUES ([1, 2], DATE '2024-01-02'), "
               "([3], DATE '2024-01-03')) t(l, d)")
        self.assertEqual(self.every_path(df, sql), [True] * 3)
        other = df.assign(l=[[1, 2], [4]])
        self.assertEqual(self.every_path(other, sql), [False] * 3)

    def test_times_file_parses_with_the_oracle_budget_regexes(self):
        times = f"{self.tmp.name}/times.json"
        rc, _ = self.score({"a": pd.DataFrame({"v": [1]})},
                           {"a": "SELECT 1 AS v", "bad": "SELECT nope"},
                           "--times", times)
        self.assertEqual(rc, 1)
        with open(times) as f:
            text = f.read()
        # The two patterns SurveySyncSpec's oracle-budget test reads.
        total = re.search(r'"total_sec": ([0-9.]+)', text)
        self.assertIsNotNone(total)
        timed = {m.group(1): float(m.group(2))
                 for m in re.finditer(r'"([a-z0-9_]+)": (-?[0-9.]+)', text)}
        for k in ("total_sec", "n"):
            timed.pop(k)
        self.assertEqual(set(timed), {"a", "bad"})
        self.assertGreaterEqual(timed["a"], 0.0)
        self.assertEqual(timed["bad"], -1.0)


if __name__ == "__main__":
    unittest.main()
