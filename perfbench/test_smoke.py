"""Smoke test of the benchmark: every workload at the tiny input size,
untraced and traced, must print every metric BENCHMARK.json names, with
its unit, as the last line of its output, and the untraced report must
name each end-to-end metric. It also checks that the
benchmark refuses to run where the program's sources are missing.

Run from the repository root (about ten minutes on a 4-core host):

  python3 -m unittest perfbench/test_smoke.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
sys.path.insert(0, HERE)
import gen  # noqa: E402


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace):
    r = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7",
                        "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    return r


class Smoke(unittest.TestCase):

    def check(self, workload, trace):
        r = run(workload, trace)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        # The output contract, not the verdict: correctness is the oracle
        # gate's job, and a defect it finds at this size is reported, not
        # a smoke failure.
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertIsInstance(last["correct"], bool)
        self.assertGreaterEqual(last["attempted"], 1)
        self.assertEqual(last["correct"], last["failed"] == 0)
        want = bench()["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(last["metrics"]), {m["name"] for m in want})
        for m in want:
            got = last["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
        if not trace:
            report = "\n".join(lines[:-1])
            for m in want:
                self.assertIn(m["name"], report)

    def test_workloads(self):
        for w in gen.WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=w, trace=trace):
                    self.check(w, trace)

    def test_refuses_without_sources(self):
        os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("results", "__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "event_ops",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
