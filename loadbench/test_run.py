"""Tests of the benchmark's own gates.

    python3 -m unittest loadbench/test_run.py

Each test runs loadbench/run.py from the command line, so the first
one may build the engine. The wrong-ranking test takes about a minute.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
RUN = ["python3", "loadbench/run.py", "--seconds", "20", "--trace", "0"]


def last_json(stdout):
    lines = [l for l in stdout.splitlines() if l.strip()]
    return json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None


class BenchmarkGates(unittest.TestCase):

    def test_wrong_ranking_fails_the_run(self):
        """A deliberately swapped ranking must fail the correctness gate."""
        proc = subprocess.run(
            RUN + ["--workload", "ingest", "--seed", "5", "--fault", "wrong_rank"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            timeout=1200)
        self.assertNotEqual(proc.returncode, 0, proc.stdout[-2000:])
        result = last_json(proc.stdout)
        self.assertIsNotNone(result, proc.stdout[-2000:])
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertIn("FAILED ingest q", proc.stdout)

    def test_bare_directory_exits_without_result(self):
        """Without the engine sources the command fails and prints no result."""
        bare = ROOT / ".loadbench" / "bare-test"
        shutil.rmtree(bare, ignore_errors=True)
        try:
            bare.mkdir(parents=True)
            shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
            shutil.copytree(BENCH, bare / "loadbench",
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            proc = subprocess.run(
                RUN + ["--workload", "serve", "--seed", "1"], cwd=bare,
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
            self.assertNotEqual(proc.returncode, 0)
            self.assertIsNone(last_json(proc.stdout))
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(unittest.main())
