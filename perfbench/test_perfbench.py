"""Self-tests of the benchmark. Run from the repository root:

    python3 perfbench/test_perfbench.py

The harness tests build graft (as a benchmark run does) and start JVMs,
so they take about a minute.
"""
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))
        random.Random(7).shuffle(xs)
        value, pct, n = run.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_needs_eleven_samples(self):
        self.assertIsNone(run.tail(range(10)))
        self.assertEqual(run.tail(range(11)), (0, 100.0 / 11, 11))


class MedianTest(unittest.TestCase):
    def test_symmetric_samples_give_their_centre(self):
        self.assertAlmostEqual(run.hd_median([5.0]), 5.0)
        self.assertAlmostEqual(run.hd_median([1.0, 3.0]), 2.0)
        self.assertAlmostEqual(run.hd_median([3.0, 1.0, 2.0]), 2.0)
        self.assertAlmostEqual(run.hd_median(range(1, 101)), 50.5)

    def test_weights_every_sample_near_the_middle(self):
        # Two clusters with the gap at the middle: the sample median is the
        # mean of the two samples beside the gap, so moving one of them by
        # 0.2 moves it by 0.1; the Harrell-Davis median moves by less.
        xs = [1.0, 1.1, 1.2, 1.3, 3.0, 3.1, 3.2, 3.3]
        base = run.hd_median(xs)
        moved = run.hd_median(xs[:3] + [1.5] + xs[4:])
        self.assertGreater(moved, base)
        self.assertLess(moved - base, 0.2 / 2)


class _Checker:
    """Stands in for the oracle check: only `wrong` mismatches."""

    def check(self, q, sql, out):
        return "values differ" if q == "wrong" else None


def _exec(q, build_s, exec_s, error=None):
    return {"query": q, "build_s": build_s, "exec_s": exec_s, "error": error, "out": "unused"}


class EvaluateTest(unittest.TestCase):
    def test_thrown_and_mismatched_executions_are_failed_and_untimed(self):
        res = {"oracle": {}, "passes": [
            {"tag": "warmup", "seconds": 9.0, "execs": [_exec("ok", 4.0, 5.0)]},
            {"tag": "p", "seconds": 3.0, "execs": [
                _exec("ok", 0.25, 0.75), _exec("boom", 0.0, 0.0, "IllegalStateException"),
                _exec("wrong", 0.5, 1.5)]},
            {"tag": "p", "seconds": 3.5, "execs": [
                _exec("ok", 0.5, 1.0), _exec("boom", 0.0, 0.0, "IllegalStateException"),
                _exec("wrong", 0.5, 1.5)]}]}
        passes, times, attempted, failures = run.evaluate(res, _Checker(), {"p"})
        self.assertEqual(attempted, 6)
        self.assertEqual(sorted(q for q, _ in failures), ["boom", "boom", "wrong", "wrong"])
        self.assertEqual(times, [1.0, 1.5])
        # no pass ran clean, so pass_s is the median of the successful time
        self.assertEqual(run.pass_seconds(passes), 1.25)

    def test_clean_passes_use_wall_time(self):
        passes = [(3.0, True, 2.0), (9.0, False, 1.0), (4.0, True, 3.0)]
        self.assertEqual(run.pass_seconds(passes), 3.5)


class CanonTest(unittest.TestCase):
    """The SQL canonical form agrees with tools/compare.py's canon()."""

    def test_sql_canon_matches_python_canon(self):
        import duckdb
        cmp = run._compare_module(ROOT)
        con = duckdb.connect()
        con.sql("""CREATE TABLE t AS SELECT * FROM (VALUES
            (1::BIGINT, 0.1 + 0.2, [1.5::FLOAT, NULL, 1e-7::FLOAT], 'a b', TIMESTAMP '2024-01-01 00:00:11.172425'),
            (NULL, 'nan'::DOUBLE, [], NULL, NULL),
            (-3, 123456789012.0, NULL, '', TIMESTAMP '1998-02-06 00:00:00'),
            (7, -0.0, [2.0::FLOAT], 'x', NULL)) v(i, d, l, s, ts)""")
        cols, sql = run._canon_rel(con, "t")
        from_sql = sorted(con.sql(sql).fetchall())
        from_py = sorted(tuple(cmp.canon(v) for v in r)
                         for r in con.sql(f"SELECT {','.join(cols)} FROM t").fetchall())
        nan = [r for r in from_py if "NaN" in r]
        self.assertEqual(len(nan), 1)  # compare.py spells NaN its own way
        fixed = [tuple("nan" if v == "NaN" else v for v in r) for r in from_py]
        self.assertEqual(from_sql, sorted(fixed))


class HarnessTest(unittest.TestCase):
    """Runs the JVM harness built from this checkout."""

    @classmethod
    def setUpClass(cls):
        cls.cp = run.build(ROOT)
        cls.tmp = tempfile.mkdtemp(prefix="perfbench_test_", dir=ROOT)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def _validate(self, queries):
        cmd = run.java_cmd(self.cp, self.tmp, ["--queries", ",".join(queries), "--validate", "1"])
        return subprocess.run(cmd, capture_output=True, text=True, timeout=120)

    def test_unknown_query_is_an_error(self):
        r = self._validate(["f04_rect_gate", "no_such_query"])
        self.assertEqual(r.returncode, 2)
        self.assertIn("no_such_query", r.stderr)

    def test_every_workload_query_is_registered(self):
        names = sorted({q for w in run.WORKLOADS.values() for q in w["queries"]})
        r = self._validate(names)
        self.assertEqual(r.returncode, 0, r.stderr)

    def test_throwing_and_wrong_queries_land_in_failed(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "selftest",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        passes = out["attempted"] // 3
        self.assertGreaterEqual(passes, 2)
        self.assertEqual(out["attempted"], 3 * passes)
        self.assertEqual(out["failed"], 2 * passes)
        self.assertFalse(out["correct"])
        self.assertIn("FAILED bench_throws: java.lang.IllegalStateException", r.stdout)
        self.assertIn("FAILED bench_wrong_rows: values differ", r.stdout)
        self.assertNotIn("FAILED f04_rect_gate", r.stdout)


if __name__ == "__main__":
    unittest.main()
