"""Tests of the benchmark's own parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

* the input generator: the same seed gives byte-identical bus files, and
  two seeds give different ones;
* the timed action: it computes every result column, so a frame with a
  projection that throws fails under it although `count()` passes.
"""
import filecmp
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = os.path.join(build.build_dir(), "test-gen")
        shutil.rmtree(cls.tmp, ignore_errors=True)
        cls.dirs = {}
        for name, seed in (("a", 11), ("b", 11), ("c", 12)):
            cls.dirs[name] = os.path.join(cls.tmp, name)
            gen.generate(run.SF_DIR, cls.dirs[name], seed)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def files(self, name):
        return sorted(os.listdir(self.dirs[name]))

    def test_same_seed_gives_identical_files(self):
        names = self.files("a")
        self.assertEqual(names, self.files("b"))
        self.assertTrue(any(n.startswith("topic_log-") for n in names))
        match, mismatch, errors = filecmp.cmpfiles(
            self.dirs["a"], self.dirs["b"], names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_two_seeds_give_different_files(self):
        for n in self.files("a"):
            if n.startswith("topic_"):
                self.assertFalse(filecmp.cmp(os.path.join(self.dirs["a"], n),
                                             os.path.join(self.dirs["c"], n),
                                             shallow=False), n)


class TimedActionTest(unittest.TestCase):
    def test_timed_action_computes_every_column(self):
        cp = build.build()
        work = os.path.join(build.build_dir(), "test-timed")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        p = subprocess.run(run.jvm_command(cp, work, "perfbench.TimedActionCheck", []),
                           cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=170)
        shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(p.returncode, 0, p.stdout[-2000:])
        self.assertIn("count=10 compute=threw", p.stdout)


if __name__ == "__main__":
    unittest.main()
