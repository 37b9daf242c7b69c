"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest
from unittest import mock

import run


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        samples = [float(i) for i in range(1, 101)]  # 1..100
        value, pct, beyond = run.tail(samples)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for s in samples if s > value), 10)
        self.assertEqual(value, 90.0)
        self.assertAlmostEqual(pct, 90.0)

    def test_highest_such_percentile(self):
        samples = [float(i) for i in range(1, 41)]
        value, pct, beyond = run.tail(samples)
        # one sample higher would leave only 9 beyond it
        self.assertEqual(sum(1 for s in samples if s > value), 10)
        self.assertEqual(sum(1 for s in samples if s > value + 1), 9)
        self.assertAlmostEqual(pct, 75.0)

    def test_order_does_not_matter(self):
        samples = [5.0, 1.0, 9.0, 3.0] * 5
        self.assertEqual(run.tail(samples), run.tail(sorted(samples)))

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(run.tail([1.0, 3.0, 2.0]), (3.0, 100.0, 0))


class FailedFracTest(unittest.TestCase):
    def test_wrong_results_count_as_failures(self):
        self.assertEqual(run.failed_frac(10, 0, 2), 0.2)
        self.assertEqual(run.failed_frac(10, 1, 2), 0.3)

    def test_outcomes_count_every_execution_of_a_wrong_query(self):
        def q(name, error=""):
            return {"name": "query", "query": name, "error": error}
        r = {"spans": [q("a"), q("b"), q("a"), q("b"), q("c", "boom")],
             "fingerprints": {"a": "1:x", "b": "1:changed", "c": "error"}}
        cert = {"a": "1:x", "b": "1:y", "c": "1:z"}
        attempted, threw, wrong, bad = run.outcomes(r, cert)
        self.assertEqual((attempted, threw, wrong), (5, 1, 2))
        self.assertEqual(bad, ["b", "c"])
        self.assertEqual(run.failed_frac(attempted, threw, wrong), 0.6)

    def test_uncertified_query_is_wrong(self):
        r = {"spans": [{"name": "query", "query": "a", "error": ""}],
             "fingerprints": {"a": "1:x"}}
        self.assertEqual(run.outcomes(r, {"a": "oracle mismatch: rows"})[2],
                         1)


class SelfTimeTest(unittest.TestCase):
    def test_minus_union_of_children(self):
        # children overlap on [3, 4]: the union is 5, not 6
        self.assertEqual(run.self_time((0, 10), [(1, 4), (3, 6), (8, 9)]), 4)

    def test_children_clipped_to_span(self):
        self.assertEqual(run.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_no_children(self):
        self.assertEqual(run.self_time((2, 5), []), 3)

    def test_nested_and_touching_children(self):
        self.assertEqual(run.self_time((0, 10), [(1, 8), (2, 3), (8, 9)]), 2)


class ManifestTest(unittest.TestCase):
    ALL = ["ts_a", "ts_b", "ts_c", "graph_x", "graph_y", "source_p",
           "dedup_source_priority"]

    def manifest(self, queries, families):
        return {"queries": queries, "families": families}

    def test_exact_names_no_substring_match(self):
        m = self.manifest(["source_p"], {"source_": 1})
        self.assertEqual(run.resolve("w", m, self.ALL), ["source_p"])
        # `dedup_source_priority` contains "source_" but is another family
        m = self.manifest(["source_p", "dedup_source_priority"],
                          {"source_": 1})
        with self.assertRaisesRegex(run.BenchError, "outside the listed"):
            run.resolve("w", m, self.ALL)

    def test_missing_name(self):
        m = self.manifest(["ts_a", "ts_gone"], {"ts_": 3})
        with self.assertRaisesRegex(run.BenchError, "ts_gone"):
            run.resolve("w", m, self.ALL)

    def test_listed_twice(self):
        m = self.manifest(["ts_a", "ts_b", "ts_a"], {"ts_": 3})
        with self.assertRaisesRegex(run.BenchError, "listed twice"):
            run.resolve("w", m, self.ALL)

    def test_family_gained_or_lost_queries(self):
        m = self.manifest(["ts_a"], {"ts_": 3})
        run.resolve("w", m, self.ALL)
        with self.assertRaisesRegex(run.BenchError, "has 4 queries"):
            run.resolve("w", m, self.ALL + ["ts_new"])
        with self.assertRaisesRegex(run.BenchError, "has 2 queries"):
            run.resolve("w", m, [n for n in self.ALL if n != "ts_c"])

    def test_shipped_manifests_are_well_formed(self):
        path = os.path.join(os.path.dirname(__file__), "workloads.json")
        manifests = json.load(open(path))
        for w, m in manifests.items():
            names = m["queries"]
            self.assertEqual(len(names), len(set(names)), w)
            self.assertTrue(all(run.family(n) in m["families"]
                                for n in names), w)
            self.assertGreater(m["warm_pass_s"], 0, w)


class SourceKeyTest(unittest.TestCase):
    """The build is reused only while nothing it compiles has changed."""

    def setUp(self):
        tmp = tempfile.TemporaryDirectory()
        self.addCleanup(tmp.cleanup)
        self.root = tmp.name
        self.here = os.path.join(self.root, "perfbench")
        for path in ("build.sbt", "project/build.properties",
                     "src/main/scala/graft/A.scala", "perfbench/build.sbt",
                     "perfbench/src/main/scala/perfbench/Runner.scala"):
            self.write(path, "x")
        patch = mock.patch.multiple(run, ROOT=self.root, HERE=self.here)
        patch.start()
        self.addCleanup(patch.stop)

    def write(self, path, text):
        path = os.path.join(self.root, path)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)

    def test_same_sources_same_key(self):
        self.assertEqual(run.source_key(), run.source_key())

    def test_changed_program_or_runner_source_changes_key(self):
        for path in ("src/main/scala/graft/A.scala", "src/main/scala/B.scala",
                     "build.sbt", "project/plugins.sbt",
                     "perfbench/src/main/scala/perfbench/Runner.scala"):
            before = run.source_key()
            self.write(path, "changed " + path)
            self.assertNotEqual(before, run.source_key(), path)

    def test_outputs_do_not_change_key(self):
        before = run.source_key()
        self.write("target/x.class", "y")
        self.write("perfbench/out/build.json", "{}")
        self.assertEqual(before, run.source_key())


if __name__ == "__main__":
    unittest.main()
