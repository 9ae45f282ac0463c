"""Self-tests of the benchmark's output check, on the crawl_sparse workload.

    python3 perfbench/test_bench.py

A clean run must be reported correct with timings; a run whose outputs carry
one wrong triple for a sampled document must be reported as failed on every
product call, with no timing in its metrics.
"""

import json
import pathlib
import subprocess
import sys
import unittest

RUN = pathlib.Path(__file__).resolve().parent / "run.py"


def bench(*extra):
    done = subprocess.run(
        [sys.executable, str(RUN), "--workload", "crawl_sparse", "--seed", "7",
         "--seconds", "1", "--trace", "0", *extra],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    assert done.returncode == 0, f"run.py exited with {done.returncode}"
    return json.loads(done.stdout.strip().splitlines()[-1])


class OutputCheckTest(unittest.TestCase):

    def test_clean_run_is_correct_and_timed(self):
        r = bench()
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(set(r["metrics"]),
                         {"docs_per_cpu_s", "text_mb_per_cpu_s", "setup_s"})
        self.assertGreater(r["metrics"]["docs_per_cpu_s"]["value"], 0)

    def test_disagreeing_sample_is_failed_not_timed(self):
        r = bench("--inject-fault")
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], r["attempted"])
        self.assertEqual(r["metrics"], {})


if __name__ == "__main__":
    unittest.main()
