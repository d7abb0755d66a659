"""The benchmark's own tests: python3 -m unittest perfbench/test_run.py

The last test builds the harness (if needed) and runs three registry rows
at sf0.001 twice, with and without the trace listeners; it takes about a
minute.
"""

import argparse
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

EXPECTED = {"rows": {"a": {"rows": 3, "hash": "aa"},
                     "b": {"rows": 5, "hash": "bb"}},
            "tables": {"t1": {"rows": 7, "hash": "11"},
                       "t2": {"rows": 9, "hash": "22"}}}


def op(name, s, rows=None, hash_=None, pass_=0, error=None, checks=None):
    return {"name": name, "pass": pass_, "s": s, "rows": rows, "hash": hash_,
            "error": error, "checks": checks}


def mix_record(ops, passes):
    return {"setup_s": 20.0, "ops": ops, "passes": passes,
            "peak_rss_mb": 3000.0}


GOOD_MIX = mix_record(
    [op("a", 0.2, 3, "aa", 0), op("b", 1.0, 5, "bb", 0),
     op("a", 0.3, 3, "aa", 1), op("b", 1.1, 5, "bb", 1)], [1.2, 1.4])


class PercentileTest(unittest.TestCase):
    def test_harrell_davis_estimate(self):
        xs = list(range(1, 11))
        self.assertAlmostEqual(run.percentile(xs, 50), 5.5)
        # reference value of the Harrell-Davis 0.85 quantile of 1..10
        self.assertAlmostEqual(run.percentile(xs, 85), 8.98753, places=4)
        self.assertAlmostEqual(run.percentile([4.0], 85), 4.0)
        self.assertAlmostEqual(run.percentile([3.0, 3.0, 3.0], 85), 3.0)
        self.assertAlmostEqual(run.percentile([2.0, 1.0], 50), 1.5)
        ps = [run.percentile([0.2, 0.3, 0.35, 1.0, 1.1], p)
              for p in (10, 50, 85, 95)]
        self.assertEqual(ps, sorted(ps))
        self.assertEqual(run.percentile([1.0, 2.0, math.inf], 50), math.inf)

    def test_tail_percentile_leaves_ten_samples_above(self):
        def above(n, p):
            pos = (n - 1) * p / 100.0
            return sum(1 for r in range(n) if r > pos)
        for n in (11, 24, 36, 67, 95, 200):
            p = run.tail_percentile(n)
            self.assertGreaterEqual(above(n, p), 10, n)
            self.assertLess(above(n, p + 1), 10, n)
        self.assertEqual(run.tail_percentile(95), 90)
        self.assertEqual(run.tail_percentile(67), 86)
        self.assertIsNone(run.tail_percentile(10))

    def test_sample_count_is_stated(self):
        note = run.sample_note("w", 24, 2)
        self.assertIn("24 timed operations", note)
        self.assertIn("2 pass(es)", note)
        self.assertIn("p60", note)
        self.assertIn("none", run.sample_note("w", 3, 1))


class FailureTest(unittest.TestCase):
    def test_good_run(self):
        m, attempted, failed = run.end_to_end(GOOD_MIX, "mix", EXPECTED, 60.0)
        self.assertEqual((attempted, failed), (4, 0))
        self.assertAlmostEqual(m["mix_s"], 1.3)
        self.assertAlmostEqual(m["query_p50_s"], 0.65)
        self.assertGreater(m["query_p85_s"], m["query_p50_s"])

    def test_throw_counts_failed_and_never_reads_faster(self):
        good, _, _ = run.end_to_end(GOOD_MIX, "mix", EXPECTED, 60.0)
        # b throws at once in both passes: its latency and its passes
        # would otherwise read far faster than the good run's
        rec = mix_record(
            [op("a", 0.2, 3, "aa", 0), op("b", 0.001, pass_=0, error="boom"),
             op("a", 0.3, 3, "aa", 1), op("b", 0.001, pass_=1, error="boom")],
            [0.201, 0.301])
        m, attempted, failed = run.end_to_end(rec, "mix", EXPECTED, 60.0)
        self.assertEqual((attempted, failed), (4, 2))
        for k in ("mix_s", "query_p50_s", "query_p85_s"):
            self.assertGreaterEqual(m[k], good[k], k)
            self.assertTrue(math.isfinite(m[k]), k)
        self.assertEqual(m["mix_s"], 60.0)

    def test_hash_mismatch_counts_failed(self):
        rec = mix_record([op("a", 0.2, 3, "aa"), op("b", 1.0, 5, "XX")],
                         [1.2])
        _, _, failed = run.end_to_end(rec, "mix", EXPECTED, 60.0)
        self.assertEqual(failed, 1)
        rec = mix_record([op("a", 0.2, 4, "aa"), op("zz", 1.0, 5, "bb")],
                         [1.2])
        _, _, failed = run.end_to_end(rec, "mix", EXPECTED, 60.0)
        self.assertEqual(failed, 2, "row count mismatch and unknown row")

    def test_nightly_table_mismatch_counts_failed(self):
        def step(name, h2):
            return op(name, 5.0, checks=[
                {"table": "t1", "rows": 7, "hash": "11"},
                {"table": "t2", "rows": 9, "hash": h2}])
        rec = {"setup_s": 5.0, "passes": [10.0], "peak_rss_mb": 1.0,
               "ops": [step("etl", "22"), step("cold", "23")]}
        _, attempted, failed = run.end_to_end(rec, "nightly", EXPECTED, 60.0)
        self.assertEqual((attempted, failed), (2, 1))
        rec["ops"].append(op("warm", 1.0, error="boom", checks=[]))
        m, _, failed = run.end_to_end(rec, "nightly", EXPECTED, 60.0)
        self.assertEqual(failed, 2)
        self.assertEqual(m["mix_s"], 60.0)


class RunDirsTest(unittest.TestCase):
    def test_dead_runs_are_removed_and_live_ones_kept(self):
        done = subprocess.Popen(["true"])
        done.wait()
        tmp = tempfile.mkdtemp(dir=run.BENCH, prefix=".test-")
        saved, run.RUNS = run.RUNS, tmp
        try:
            dead = os.path.join(tmp, f"nightly-1-{done.pid}")
            live = os.path.join(tmp, f"nightly-2-{os.getpid()}")
            for d in (dead, live):
                os.makedirs(os.path.join(d, "tmp"))
            run.remove_dead_runs()
            self.assertFalse(os.path.exists(dead))
            self.assertTrue(os.path.isdir(live))
        finally:
            run.RUNS = saved
            shutil.rmtree(tmp)


class TraceListenersTest(unittest.TestCase):
    ROWS = ["a01_group_sum_max", "st09_transform_with_state",
            "x71_triangle_cc"]

    def hashes(self, classpath, trace):
        spec = {"kind": "mix", "data": "data/sf0.001", "rows": self.ROWS}
        args = argparse.Namespace(seed=7, seconds=0.0, trace=trace,
                                  heap="2g")
        tmp = tempfile.mkdtemp(dir=run.BENCH, prefix=".test-")
        try:
            record = os.path.join(tmp, "record.json")
            run_dir = os.path.join(tmp, "run")
            os.makedirs(run_dir)
            run.run_jvm(classpath, spec, args, run_dir, record,
                        time.time() + run.RUN_LIMIT_S)
            rec = run.load_json(record)
        finally:
            shutil.rmtree(tmp)
        if trace:
            self.assertGreater(rec["layers"]["dispatch.jobs"], 0)
            self.assertGreater(rec["layers"]["stream.batches"], 0)
        return {(o["name"], o["rows"], o["hash"]) for o in rec["ops"]}

    def test_listeners_change_no_result_hash(self):
        classpath = run.build()
        plain = self.hashes(classpath, 0)
        self.assertEqual(len(plain), len(self.ROWS))
        self.assertEqual(plain, self.hashes(classpath, 1))


if __name__ == "__main__":
    unittest.main()
