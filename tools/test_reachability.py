"""Tests for tools/reachability.py on canned jdeps output.

    python3 -m unittest tools/test_reachability.py
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import reachability  # noqa: E402


def edge(src, dst, archive="classes"):
    return f"   {src:<50} -> {dst:<50} {archive}"


# SparkEntry's object reaches only a nested class of graft.Ops, never
# graft.Ops itself; graft.Dead and its companion reach each other and
# nothing reaches them.
JDEPS = [
    "classes -> java.base",
    "classes -> not found",
    edge("graft.SparkEntry", "graft.SparkEntry$"),
    edge("graft.SparkEntry", "java.lang.Object", "java.base"),
    edge("graft.SparkEntry$", "graft.Ops$Kernel$"),
    edge("graft.SparkEntry$", "org.apache.spark.sql.Dataset", "not found"),
    edge("graft.Ops", "java.lang.Object", "java.base"),
    edge("graft.Ops$Kernel$", "java.lang.Object", "java.base"),
    edge("graft.Dead", "graft.Dead$"),
    edge("graft.Dead$", "graft.Dead"),
    edge("graft.sources.Source", "graft.sources.Source$Reader"),
    edge("graft.sources.Source$Reader", "java.lang.Object", "java.base"),
]


def run(lines, services_dir):
    out, err = io.StringIO(), io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
        rc = reachability.main([], jdeps=lambda _: lines,
                               services_dir=services_dir)
    return rc, out.getvalue().split()


class ReachabilityTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.services = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def service(self, *classes):
        path = os.path.join(self.services,
                            "org.apache.spark.sql.sources.DataSourceRegister")
        with open(path, "w") as f:
            f.write("# registered readers\n" + "\n".join(classes) + "\n")

    def test_top_level_of_nested_classes(self):
        self.assertEqual(reachability.top_level("graft.Ops$Kernel$"),
                         "graft.Ops")
        self.assertEqual(reachability.top_level("graft.Ops$$anon$1"),
                         "graft.Ops")
        self.assertEqual(reachability.top_level("graft.Ops"), "graft.Ops")

    def test_module_reached_only_through_a_nested_class(self):
        graph = reachability.parse(JDEPS)
        dead = reachability.unreachable(graph, ["graft.SparkEntry"])
        self.assertNotIn("graft.Ops", dead)
        self.assertIn("graft.Dead", dead)

    def test_service_file_names_a_root(self):
        _, dead = run(JDEPS, self.services)
        self.assertIn("graft.sources.Source", dead)
        self.service("graft.sources.Source")
        _, dead = run(JDEPS, self.services)
        self.assertNotIn("graft.sources.Source", dead)

    def test_exit_code(self):
        self.service("graft.sources.Source")
        rc, dead = run(JDEPS, self.services)
        self.assertEqual(dead, ["graft.Dead"])
        self.assertEqual(rc, 1)
        live = [l for l in JDEPS if "graft.Dead" not in l]
        self.assertEqual(run(live, self.services), (0, []))


if __name__ == "__main__":
    unittest.main()
