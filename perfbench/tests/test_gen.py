"""Self-tests of the seeded inputs (no Spark needed).

  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


class SeedTest(unittest.TestCase):
    def generate(self, seed):
        with tempfile.TemporaryDirectory() as d:
            digest, size = gen.generate("lakehouse_rw", seed, d)
            with open(os.path.join(d, "lakehouse.json")) as f:
                return digest, size, json.load(f)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.generate(3)[:2], self.generate(3)[:2])

    def test_other_seed_other_inputs_of_about_the_same_size(self):
        (d1, s1, _), (d2, s2, _) = self.generate(3), self.generate(4)
        self.assertNotEqual(d1, d2)
        self.assertLess(abs(s1 - s2) / s1, 0.05)

    def test_every_round_writes_each_table_and_runs_each_dml_kind(self):
        steps = self.generate(3)[2]["steps"]
        pairs = set()
        for r in range(0, len(steps), gen.ROUND):
            rnd = steps[r:r + gen.ROUND]
            appends = [s["table"] for s in rnd if s["kind"] == "append"]
            dml = [(s["table"], s["kind"]) for s in rnd if s["kind"] != "append"]
            self.assertEqual(sorted(appends), sorted(gen.HOT_TABLES))
            self.assertEqual(sorted(k for _, k in dml), ["delete", "merge", "update"])
            self.assertEqual(sorted(t for t, _ in dml), sorted(gen.HOT_TABLES))
            pairs.update(dml)
        self.assertEqual(len(pairs), 9, "each kind meets each table")


if __name__ == "__main__":
    unittest.main()
