"""Tests of the runner's build cache. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import tempfile
import time
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


class SourceDigest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name
        self.harness = os.path.join(self.root, "perfbench", "harness")
        for base in (self.root, self.harness):
            write(os.path.join(base, "build.sbt"), "x")
            write(os.path.join(base, "project", "build.properties"), "sbt.version=1")
            write(os.path.join(base, "src", "main", "scala", "A.scala"), "object A")
        write(os.path.join(self.root, "src", "main", "resources", "META-INF", "services",
                           "S"), "a.B")

    def tearDown(self):
        self.tmp.cleanup()

    def digest(self):
        return run.source_digest(self.root, self.harness)

    def test_every_build_input_counts(self):
        inputs = [
            os.path.join(self.root, "src", "main", "scala", "A.scala"),
            os.path.join(self.root, "src", "main", "resources", "META-INF", "services", "S"),
            os.path.join(self.root, "build.sbt"),
            os.path.join(self.root, "project", "build.properties"),
            os.path.join(self.root, "project", "plugins.sbt"),
            os.path.join(self.harness, "src", "main", "scala", "A.scala"),
            os.path.join(self.harness, "build.sbt"),
            os.path.join(self.harness, "project", "build.properties"),
        ]
        for f in inputs:
            before = self.digest()
            write(f, "changed " + f)
            self.assertNotEqual(before, self.digest(), f)

    def test_tests_do_not_count(self):
        before = self.digest()
        write(os.path.join(self.root, "src", "test", "scala", "T.scala"), "object T")
        self.assertEqual(before, self.digest())


class BuildStamp(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.build_dir = os.path.join(self.tmp.name, ".build")
        os.makedirs(self.build_dir)
        self.classes = os.path.join(self.tmp.name, "classes")
        write(os.path.join(self.classes, "A.class"), "a")
        self.classpath = self.classes + os.pathsep + os.path.join(self.tmp.name, "x.jar")

    def tearDown(self):
        self.tmp.cleanup()

    def test_reused_while_digest_and_classes_match(self):
        run.write_stamp(self.build_dir, "d1", self.classpath)
        self.assertEqual(run.stamped_classpath(self.build_dir, "d1"), self.classpath)
        self.assertEqual(run.stamped_classpath(self.build_dir, "d1"), self.classpath)

    def test_other_sources_rebuild(self):
        run.write_stamp(self.build_dir, "d1", self.classpath)
        self.assertIsNone(run.stamped_classpath(self.build_dir, "d2"))
        # the stale stamp is gone: switching back rebuilds too
        self.assertIsNone(run.stamped_classpath(self.build_dir, "d1"))

    def test_classes_rewritten_elsewhere_rebuild(self):
        # built at A, then something else compiled B into the same target
        run.write_stamp(self.build_dir, "A", self.classpath)
        time.sleep(0.01)
        write(os.path.join(self.classes, "A.class"), "b")
        self.assertIsNone(run.stamped_classpath(self.build_dir, "A"))

    def test_no_stamp_builds(self):
        self.assertIsNone(run.stamped_classpath(self.build_dir, "d1"))


if __name__ == "__main__":
    unittest.main()
