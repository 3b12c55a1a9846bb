"""Self-tests of the benchmark's correctness checks.

Each test runs one workload with one injected fault (PERFBENCH_FAULT) and
asserts that the result line counts it: failed > 0, so error_rate > 0, and
correct is false. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

Each case is one full benchmark run (about a minute on 4 cores).
"""
import json
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "run.py")


def run(workload, fault):
    env = dict(os.environ, PERFBENCH_FAULT=fault)
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "3",
                        "--seconds", "20", "--trace", "0"],
                       capture_output=True, text=True, env=env, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


class FaultsAreCounted(unittest.TestCase):
    def check(self, workload, fault, note):
        res, out = run(workload, fault)
        self.assertFalse(res["correct"], out)
        self.assertGreater(res["failed"], 0, out)
        self.assertIn(note, out)

    def test_dropped_sink_row(self):
        self.check("announce_stream", "drop_sink_row", "missing or wrong in a sink")

    def test_wrong_query_row(self):
        self.check("crawl_cycle", "wrong_query_row", "serveDelta answered differently")

    def test_replay_that_commits(self):
        self.check("crawl_cycle", "replay_not_noop", "changed the committed version")


if __name__ == "__main__":
    unittest.main()
