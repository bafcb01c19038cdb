#!/usr/bin/env python3
"""Self-test of the benchmark's answer checks.

Runs each workload once with a planted fault and checks that the fault
is counted as a failure:
  - serve-small: one served answer in five is altered before the check;
  - reindex: one segment the refresh does not rebuild loses a posting row,
    so the refreshed index no longer hash-equals the full build.

Run from the repository root:  python3 perfbench/test_planted.py
(takes about two minutes; builds first if needed).
"""
import json
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload, plant):
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "6", "--trace", "0", "--plant", str(plant)],
        capture_output=True, text=True, timeout=1200, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


class PlantedFaults(unittest.TestCase):
    def test_wrong_answer_counts_as_failure(self):
        r = run("serve-small", 1)
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)
        self.assertLess(r["failed"], r["attempted"])

    def test_corrupted_refresh_counts_as_failure(self):
        r = run("reindex", 1)
        self.assertFalse(r["correct"])
        self.assertGreater(r["failed"], 0)


if __name__ == "__main__":
    unittest.main()
