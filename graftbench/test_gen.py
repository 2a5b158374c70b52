"""Tests of the benchmark's seeded inputs.

Run from the root of a graft checkout:
    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import hashlib
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):

    def test_same_seed_gives_identical_yaml(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ma = gen.write_wide_project(7, a)
            mb = gen.write_wide_project(7, b)
            self.assertEqual(tree_digest(a), tree_digest(b))
            self.assertEqual(ma, mb)

    def test_seeds_change_content_not_shape(self):
        fa, ma = gen.wide_project(1)
        fb, mb = gen.wide_project(2)
        self.assertNotEqual(fa, fb)
        for k in ("sources", "rules", "relations", "filters"):
            self.assertEqual(ma[k], mb[k])
        self.assertEqual(len(ma["null_warnings"]), len(mb["null_warnings"]))

    def test_same_seed_gives_identical_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_tables(3, 0.001, a)
            gen.write_tables(3, 0.001, b)
            self.assertEqual(tree_digest(a), tree_digest(b))

    def test_draw_is_seeded_and_stratified(self):
        draw = gen.draw_queries(5, run.STRATA)
        self.assertEqual(draw, gen.draw_queries(5, run.STRATA))
        self.assertEqual(sorted(s for _, s in draw), sorted(run.STRATA))
        self.assertTrue(all(q in run.STRATA[s] for q, s in draw))
        self.assertTrue(any(q.endswith("_stream") for q, _ in draw))
        draws = {tuple(gen.draw_queries(seed, run.STRATA)) for seed in range(20)}
        self.assertGreater(len(draws), 1)

    def test_generated_projects_compile(self):
        classes = run.build()
        cp = os.pathsep.join([classes, os.path.join(run.spark_jars(), "*")])
        for seed in (1, 2, 3):
            with tempfile.TemporaryDirectory() as d:
                m = gen.write_wide_project(seed, d)
                out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graftbench.ProjectCheck", d],
                                     capture_output=True, text=True, check=True).stdout
                self.assertEqual(out.split(), [str(m["sources"]), str(m["rules"]),
                                               str(m["relations"]), "4"])


if __name__ == "__main__":
    unittest.main()
