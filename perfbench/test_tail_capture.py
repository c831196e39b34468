"""A harness that runs the benchmark may keep only the last ~2,000
characters of its stdout and parse its last line. These tests replay that
capture on the widest end-to-end line run.py can print and on the output
of a real run.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The second test builds the benchmark if needed and runs one short workload.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

TAIL_CHARS = 2000


def tail_capture(stdout):
    """Replica of that capture: the last TAIL_CHARS characters, then
    the last non-empty line, parsed as JSON."""
    lines = [l for l in stdout[-TAIL_CHARS:].splitlines() if l.strip()]
    return json.loads(lines[-1])


class TailCaptureTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)
        self.e2e = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}

    def check(self, parsed):
        self.assertEqual(set(parsed), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual({k: v["unit"] for k, v in parsed["metrics"].items()}, self.e2e)

    def test_widest_line_survives(self):
        # the longest float repr, on every metric, with huge counts
        res = {"attempted": 2**62, "failed": 2**62,
               "metrics": {n: -1.2345678901234567e-300 for n in self.e2e}}
        line = run.result_line(self.bench, res, trace=0)
        self.assertLess(len(line), TAIL_CHARS)
        self.check(tail_capture("spark log noise\n" * 500 + line + "\n"))

    def test_real_run_survives(self):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "stream_ingest",
             "--seed", "1", "--seconds", "2", "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        parsed = tail_capture(p.stdout)
        self.check(parsed)
        self.assertTrue(parsed["correct"])
        self.assertGreater(parsed["metrics"]["op_p50_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
