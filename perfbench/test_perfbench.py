"""Tests of the benchmark itself (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest
from pathlib import Path

import duckdb

import inputs
import run


def _digest_dir(d):
    return {p.name: p.read_bytes() for p in sorted(Path(d).iterdir())}


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes_and_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as t:
            inputs.generate(7, f"{t}/a")
            inputs.generate(7, f"{t}/b")
            inputs.generate(8, f"{t}/c")
            a, b, c = _digest_dir(f"{t}/a"), _digest_dir(f"{t}/b"), _digest_dir(f"{t}/c")
            self.assertEqual(sorted(a), [f"{n}.parquet" for n in sorted(inputs.TABLES)])
            self.assertEqual(a, b)
            self.assertEqual(sorted(a), sorted(c))
            for name in a:
                if name not in ("region.parquet", "nation.parquet"):
                    self.assertNotEqual(a[name], c[name], name)

    def test_documents_follow_the_measured_fixture_figures(self):
        with tempfile.TemporaryDirectory() as t:
            inputs.generate(5, t)
            texts = duckdb.sql(f"SELECT text FROM '{t}/documents.parquet'").fetchall()
            texts = [r[0] for r in texts]
            copies = [s for s in texts if s.endswith(" dup")]
            self.assertEqual(len(copies), round(inputs.DOC_COPY_SHARE * len(texts)))
            for s in copies:
                self.assertIn(s[:-len(" dup")], texts)
            tokens = [len(s.split(" ")) for s in texts if not s.endswith(" dup")]
            self.assertGreaterEqual(min(tokens), inputs.DOC_TOKENS_LO)
            self.assertLess(max(tokens), inputs.DOC_TOKENS_HI)


class OracleCheck(unittest.TestCase):
    """A corrupted output must count as a failure in every pass that
    reproduced it."""

    SQL = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY 1 ORDER BY 1"

    def _run_dir(self, t, corrupt):
        inputs.generate(3, f"{t}/in")
        out = Path(t) / "run" / "out" / "q"
        out.mkdir(parents=True)
        con = duckdb.connect()
        sql = self.SQL.replace("nation", f"read_parquet('{t}/in/nation.parquet')")
        if corrupt:
            sql = f"SELECT n_regionkey, n + (n_regionkey = 2)::INT AS n FROM ({sql})"
        con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT PARQUET)")
        (Path(t) / "run" / "oracle_sql.json").write_text(json.dumps({"q": self.SQL}))
        key = {"key": "q", "error": None, "digest": "d", "batches": []}
        return {"passes": [[dict(key)], [dict(key)]]}, Path(t) / "run", Path(t) / "in"

    def test_correct_output_passes(self):
        with tempfile.TemporaryDirectory() as t:
            res, run_dir, in_dir = self._run_dir(t, corrupt=False)
            failed, report = run.verify(res, run_dir, in_dir, 1)
            self.assertEqual(failed, 0)
            self.assertTrue(report["q"]["ok"])

    def test_corrupted_output_raises_fail_ratio(self):
        with tempfile.TemporaryDirectory() as t:
            res, run_dir, in_dir = self._run_dir(t, corrupt=True)
            failed, report = run.verify(res, run_dir, in_dir, 1)
            self.assertEqual(failed, 2)
            self.assertFalse(report["q"]["ok"])
            self.assertIn("column n", report["q"]["detail"])

    def test_pass_that_differs_from_first_pass_fails(self):
        with tempfile.TemporaryDirectory() as t:
            res, run_dir, in_dir = self._run_dir(t, corrupt=False)
            res["passes"][1][0]["digest"] = "other"
            failed, _ = run.verify(res, run_dir, in_dir, 1)
            self.assertEqual(failed, 1)


class TailPercentile(unittest.TestCase):
    def test_reports_percentile_with_ten_beyond_and_sample_count(self):
        self.assertEqual(run.tail(list(range(1, 101))), (90.0, 90, 100))
        self.assertEqual(run.tail(list(range(1, 1001))), (99.0, 990, 1000))

    def test_thin_sample_falls_back_to_median_with_its_count(self):
        self.assertEqual(run.tail([5, 1, 3]), (50.0, 3, 3))
        self.assertEqual(run.tail([]), (0.0, 0.0, 0))


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "key", "start_us": 0, "end_us": 10_000_000},
            {"id": 2, "parent": 1, "name": "job", "start_us": 1_000_000, "end_us": 4_000_000},
            {"id": 3, "parent": 1, "name": "job", "start_us": 3_000_000, "end_us": 5_000_000},
        ]
        rows = {r[0]: r[1:] for r in run.self_times(spans)}
        self.assertEqual(rows["key"], [1, 10.0, 6.0])
        self.assertEqual(rows["job"], [2, 5.0, 5.0])


class Paths(unittest.TestCase):
    def setUp(self):
        self.cwd = os.getcwd()
        self.env = os.environ.pop("PERFBENCH_ROOT", None)

    def tearDown(self):
        os.chdir(self.cwd)
        if self.env is not None:
            os.environ["PERFBENCH_ROOT"] = self.env
        else:
            os.environ.pop("PERFBENCH_ROOT", None)

    def test_root_is_working_directory_or_environment(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            os.chdir(a)
            self.assertEqual(run.root_dir(), Path(a).resolve())
            self.assertEqual(run.work_dir(run.root_dir()),
                             Path(a).resolve() / "perfbench" / ".work")
            os.environ["PERFBENCH_ROOT"] = b
            self.assertEqual(run.root_dir(), Path(b).resolve())

    def test_missing_program_sources_fail_the_build(self):
        with tempfile.TemporaryDirectory() as a:
            with self.assertRaises(run.BenchError):
                run.build(Path(a))


if __name__ == "__main__":
    unittest.main()
