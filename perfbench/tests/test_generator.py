"""Generator determinism, checked in a JVM by perfbench.SelfTest: the same
seed gives identical table digests, another seed gives different content
with identical row counts and per-day counts.

    python3 -m unittest discover -s perfbench/tests

Run from the root of a checkout; the first run compiles the program.
"""
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import build  # noqa: E402
import run  # noqa: E402


@unittest.skipUnless(shutil.which("java") and os.path.isdir(build.PROGRAM_SOURCES),
                     "needs java and the program sources")
class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_same_tables_other_seed_same_counts(self):
        classes, _ = build.build()
        work = os.path.join(".bench_work", f"selftest-{os.getpid()}")
        try:
            proc = subprocess.run(run.java_cmd(classes, "perfbench.SelfTest", work) + [work],
                                  stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                                  env=run.java_env(), timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(proc.returncode, 0, proc.stdout[-3000:])
        self.assertIn("selftest ok", proc.stdout)


if __name__ == "__main__":
    unittest.main()
