"""Tiny-size runs of every workload through the real command.

Run from the repository root (each test starts one JVM; the first one may
compile the program):  python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402


def bench(*args, cwd=ROOT):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--seed", "3",
           "--seconds", "1", "--size", "tiny"] + list(args)
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


class Smoke(unittest.TestCase):
    def check(self, workload, trace):
        rc, out, err = bench("--workload", workload, "--trace", str(trace))
        self.assertEqual(rc, 0, err[-2000:])
        self.assertEqual(sorted(out), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertGreaterEqual(out["attempted"], 1)
        declared = run.PER_LAYER if trace else run.END_TO_END
        self.assertEqual(sorted(out["metrics"]), sorted(n for n, _ in declared))
        for n, u in declared:
            self.assertEqual(out["metrics"][n]["unit"], u)
        return out["metrics"]

    def test_ledger_appends(self):
        m = self.check("ledger_appends", 0)
        self.assertGreater(m["op_p50_ms"]["value"], 0)

    def test_ledger_appends_traced(self):
        m = self.check("ledger_appends", 1)
        self.assertGreater(m["sources.rows_kept"]["value"], 0)
        self.assertGreater(m["pipeline.jobs"]["value"], 0)
        self.assertEqual(m["state.cpu_s"]["value"], 0)

    def test_query_surface_traced(self):
        m = self.check("query_surface", 1)
        self.assertGreater(m["state.bucketed_facts_s"]["value"], 0)
        self.assertGreater(m["queries.cgt.busy_s"]["value"], 0)
        self.assertEqual(m["sources.jobs"]["value"], 0)

    def test_wrong_expected_line_fails(self):
        rc, out, _ = bench("--workload", "ledger_appends", "--trace", "0", "--corrupt")
        self.assertEqual(rc, 1)
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)

    def test_wrong_pinned_hash_fails(self):
        rc, out, _ = bench("--workload", "query_surface", "--trace", "0", "--corrupt")
        self.assertEqual(rc, 1)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 1)

    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.dirname(HERE), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            rc, out, _ = bench("--workload", "ledger_appends", "--trace", "0", cwd=d)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(out)


if __name__ == "__main__":
    unittest.main()
