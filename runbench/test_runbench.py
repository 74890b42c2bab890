#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 runbench/test_runbench.py

Drift guard: incremental_2d restores the same committed history before
every refresh and gives each refresh a fresh run id, so a long run
sequence must not trend. Growth in accumulated snapshots or manifests
would show here as a rising manifest count or a slower second half, not
as noise.
"""
import json
import os
import re
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
# The same bound BENCHMARK.json gives refresh_s.
BOUND = 0.25


def run(*args):
    proc = subprocess.run([sys.executable, RUN, *args], capture_output=True,
                          text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines


class DriftTest(unittest.TestCase):

    def test_repeated_incremental_refreshes_do_not_drift(self):
        code, lines = run("--workload", "incremental_2d", "--seed", "7",
                          "--seconds", "80", "--trace", "0")
        self.assertEqual(code, 0, "\n".join(lines[-20:]))
        result = json.loads(lines[-1])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        drift = next(l for l in lines if l.startswith("drift:"))
        sys.stderr.write(drift + "\n")
        m = re.search(r"first_half_median=(\S+) second_half_median=(\S+) "
                      r"manifests=(\S+) files=(\S+)", drift)
        self.assertIsNotNone(m, drift)
        first, second = float(m.group(1)), float(m.group(2))
        manifests, files = m.group(3).split(","), m.group(4).split(",")
        self.assertGreaterEqual(len(manifests), 4, drift)
        # identical starting state: every refresh leaves the same tables
        self.assertEqual(len(set(manifests)), 1, drift)
        self.assertEqual(len(set(files)), 1, drift)
        self.assertLessEqual(abs(second / first - 1), BOUND, drift)


class EmptyCheckoutTest(unittest.TestCase):

    def test_fails_without_the_program_sources(self):
        import shutil
        import tempfile
        with tempfile.TemporaryDirectory(dir=os.path.dirname(RUN)) as tmp:
            os.makedirs(os.path.join(tmp, "runbench"))
            shutil.copy(RUN, os.path.join(tmp, "runbench", "run.py"))
            proc = subprocess.run(
                [sys.executable, "runbench/run.py", "--workload", "full_rebuild",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=tmp, capture_output=True, text=True, timeout=60)
        self.assertNotEqual(proc.returncode, 0)
        self.assertEqual(proc.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
