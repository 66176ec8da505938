"""Generator determinism test for the pipeline benchmark.

Run from the root of a checkout:

    python3 -m unittest perfbench/test_generators.py

Same seed -> byte-identical inputs (the Spark-built lake tables: identical
row content); a different seed -> different inputs, for every workload.
"""

import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))


class GeneratorDeterminism(unittest.TestCase):
    def test_same_seed_identical_other_seed_different(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--check-generators"],
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-4000:])
        self.assertIn("generators OK", r.stdout)
        for w in ("ingest", "cdc", "dedup_stream", "lake_rw"):
            self.assertIn(f"generator {w} same_seed_identical=true other_seed_differs=true",
                          r.stdout)


if __name__ == "__main__":
    unittest.main()
