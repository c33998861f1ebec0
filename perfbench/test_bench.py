#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/test_bench.py          # from the repository root

- The same seed gives byte-identical inputs, another seed other inputs.
- A deliberately corrupted output is counted as failed, never as a
  latency sample: every operation fails and the result is not correct.
- A run leaves no files behind in the repository tree.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN = [sys.executable, str(HERE / "run.py")]
WORKLOADS = ["citybike_load", "warehouse_queries", "corpus_curation", "event_fold"]


def run(*args):
    out = subprocess.run(RUN + list(args), cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, check=True, timeout=900)
    return json.loads(out.stdout.strip().splitlines()[-1])


def untracked():
    out = subprocess.run(["git", "status", "--short", "--untracked-files=all"], cwd=ROOT,
                         stdout=subprocess.PIPE, text=True, check=True)
    return set(out.stdout.splitlines())


class InputsAreSeeded(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for wl in WORKLOADS:
            with self.subTest(workload=wl):
                a = run("--workload", wl, "--seed", "7", "--gen-only")["inputs_sha256"]
                b = run("--workload", wl, "--seed", "7", "--gen-only")["inputs_sha256"]
                c = run("--workload", wl, "--seed", "8", "--gen-only")["inputs_sha256"]
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class CorruptionIsCounted(unittest.TestCase):
    def check(self, workload):
        before = untracked()
        r = run("--workload", workload, "--seed", "3", "--seconds", "3", "--trace", "0", "--corrupt")
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], r["attempted"])
        self.assertEqual(r["metrics"]["op_s_p50"]["value"], 0.0, "a failed operation was timed")
        self.assertEqual(untracked(), before, "the run left files in the repository")
        self.assertFalse((ROOT / ".perfbench_work").exists(), "the run left its scratch directory")

    def test_spark_side_checks(self):
        self.check("citybike_load")

    def test_digest_checks(self):
        self.check("warehouse_queries")

    def test_fold_checks(self):
        self.check("event_fold")

    def test_operator_checks(self):
        self.check("corpus_curation")


if __name__ == "__main__":
    unittest.main(verbosity=2)
