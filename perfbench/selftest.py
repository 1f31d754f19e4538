#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py            # unit checks + tiny runs
    python3 perfbench/selftest.py --quick    # unit checks only

Checks the percentile helper, the event-log parser against the
recorded fixture under perfbench/fixtures/, and then runs every
workload at a tiny corpus size, plain and traced, asserting that every
metric BENCHMARK.json names is emitted, finite, with its unit, and that
the run is correct.  Finally it runs the benchmark from a directory
holding only BENCHMARK.json and perfbench/, which must fail without
printing a result.
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import stats, tracing  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog")
TINY_DOCS = "220"
TINY_SECONDS = "4"


class PercentileTest(unittest.TestCase):
    def test_matches_numpy_linear(self):
        import numpy as np

        rng = random.Random(3)
        for n in (1, 2, 3, 10, 101):
            xs = [rng.uniform(0, 100) for _ in range(n)]
            for q in (0, 10, 50, 90, 99, 100):
                self.assertAlmostEqual(stats.percentile(xs, q),
                                       float(np.percentile(xs, q)), 9)

    def test_small_cases(self):
        self.assertEqual(stats.percentile([5], 90), 5.0)
        self.assertEqual(stats.median([1, 3]), 2.0)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 100), 4.0)
        self.assertAlmostEqual(stats.percentile(list(range(11)), 90), 9.0)

    def test_rejects_bad_input(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)
        with self.assertRaises(ValueError):
            stats.percentile([1], 101)

    def test_supported_percentile(self):
        self.assertEqual(stats.supported_percentile(9), 0)
        self.assertEqual(stats.supported_percentile(20), 50)
        self.assertEqual(stats.supported_percentile(100), 90)
        self.assertEqual(stats.supported_percentile(1000), 99)


class EventLogTest(unittest.TestCase):
    """The fixture is one tiny session (see fixtures/record_eventlog.py):
    a parquet scan of 40 rows through one identity mapInArrow, then a
    collect of 10 ids — two SQL executions."""

    @classmethod
    def setUpClass(cls):
        cls.log = tracing.parse_event_log(FIXTURE)
        with open(os.path.join(FIXTURE, "expected.json")) as f:
            cls.expected = json.load(f)

    def test_structure(self):
        log = self.log
        self.assertEqual(len(log.jobs), self.expected["jobs"])
        self.assertEqual(len(log.tasks), self.expected["tasks"])
        self.assertEqual(len(log.executions), self.expected["executions"])
        for j in log.jobs:
            self.assertGreaterEqual(j.end, j.submit)

    def test_attribution(self):
        log = self.log
        lo = min(j.submit for j in log.jobs)
        hi = max(j.end for j in log.jobs)
        led = tracing.attribute(log, lo, hi)
        self.assertEqual(led.jobs, len(log.jobs))
        self.assertEqual(led.tasks, len(log.tasks))
        self.assertEqual(led.python_evals, self.expected["python_evals"])
        self.assertEqual(led.scan_files_read, self.expected["files_read"])
        self.assertEqual(led.scan_rows, self.expected["scan_rows"])
        self.assertGreater(led.py_sent_bytes, 0)
        self.assertGreater(led.py_returned_bytes, 0)
        self.assertGreater(led.run_s, 0)
        self.assertLessEqual(led.job_cover_s, hi - lo + 1e-9)
        # nothing outside the log's time range
        empty = tracing.attribute(log, hi + 10, hi + 20)
        self.assertEqual((empty.jobs, empty.tasks), (0, 0))

    def test_union_length(self):
        u = tracing.union_length
        self.assertEqual(u([], 0, 10), 0.0)
        self.assertEqual(u([(1, 3), (2, 5), (7, 8)], 0, 10), 5.0)
        self.assertEqual(u([(1, 3), (2, 5)], 2.5, 4), 1.5)
        self.assertEqual(u([(-5, 20)], 0, 10), 10.0)


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd, workload, trace, extra=()):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds",
           TINY_SECONDS, "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=300)


class TinyRunTest(unittest.TestCase):
    def _check(self, workload, trace, names):
        p = _run(ROOT, workload, trace, ("--docs", TINY_DOCS))
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertTrue(out["correct"], p.stdout[-3000:])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(set(out["metrics"]), set(names))
        for name, m in out["metrics"].items():
            self.assertTrue(math.isfinite(m["value"]), name)
            self.assertEqual(m["unit"], names[name], name)

    def test_workloads(self):
        spec = _bench_spec()
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for w in spec["workloads"]:
            with self.subTest(workload=w["name"], trace=0):
                self._check(w["name"], 0, e2e)
            with self.subTest(workload=w["name"], trace=1):
                self._check(w["name"], 1, layer)

    def test_bare_directory_fails(self):
        bare = os.path.join(ROOT, ".perfbench_work", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            p = _run(bare, _bench_spec()["workloads"][0]["name"], 0)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    quick = "--quick" in sys.argv
    argv = [a for a in sys.argv if a != "--quick"]
    tests = unittest.TestSuite()
    loader = unittest.TestLoader()
    for case in (PercentileTest, EventLogTest,
                 *(() if quick else (TinyRunTest,))):
        tests.addTests(loader.loadTestsFromTestCase(case))
    ok = unittest.TextTestRunner(verbosity=2).run(tests).wasSuccessful()
    sys.exit(0 if ok else 1)
