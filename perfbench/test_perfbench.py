"""Self-tests of the benchmark harness (they drive real runs: ~5 minutes).

    python3 perfbench/test_perfbench.py

- a deliberately wrong expected answer is counted as a failed
  operation, on every workload;
- the same seed generates byte-identical inputs in two separate runs,
  another seed inputs of the same sizes with different contents;
- without graft's sources (a directory holding only BENCHMARK.json and
  perfbench/) the benchmark exits non-zero and prints no result.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("gwas_browse", "gwas_ingest", "curate_corpus")


def run(workload, seed, *extra, cwd=ROOT):
    """Run the benchmark of the checkout at `cwd`."""
    out = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "0", *extra],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=900)
    lines = out.stdout.strip().splitlines()
    return out.returncode, lines


def inputs(lines):
    m = next(re.search(r"sha256=(\w+) bytes=(\d+) rows=(\d+) (\([^)]*\))", l)
             for l in lines if "inputs sha256=" in l)
    return m.group(1), (m.group(2), m.group(3), m.group(4))


class Benchmark(unittest.TestCase):
    def test_wrong_answers_count_as_failed(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, lines = run(w, 1, "--inject-wrong")
                self.assertEqual(code, 0)
                result = json.loads(lines[-1])
                self.assertFalse(result["correct"])
                self.assertGreaterEqual(result["failed"], 1)
                self.assertLessEqual(result["failed"], result["attempted"])
                ratio = next(l for l in lines if "failed_op_ratio" in l)
                self.assertGreater(float(ratio.split()[2]), 0.0)

    def test_seeded_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                _, a = run(w, 7)
                _, b = run(w, 7)
                _, c = run(w, 8)
                for lines in (a, b, c):
                    self.assertTrue(json.loads(lines[-1])["correct"])
                ha, sa = inputs(a)
                hb, sb = inputs(b)
                hc, sc = inputs(c)
                self.assertEqual((ha, sa), (hb, sb))
                self.assertNotEqual(ha, hc)
                # same sizes: row counts per part (bytes vary with digits)
                self.assertEqual((sa[1], sa[2]), (sc[1], sc[2]))

    def test_refuses_without_sources(self):
        bare = os.path.join(ROOT, ".bench_scratch", "test-bare")
        shutil.rmtree(bare, ignore_errors=True)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            code, lines = run("gwas_browse", 1, cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertFalse(any(l.startswith("{") for l in lines))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
