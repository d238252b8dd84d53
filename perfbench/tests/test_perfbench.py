"""Self-tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

The output digest's order independence is tested on the JVM side, in
`src/test/scala/perfbench/DigestSpec.scala` (`cd perfbench && sbt test`).
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        # 10-40 and 30-60 overlap on 30-40; 90-120 is clipped at the span's end
        self.assertAlmostEqual(metrics.self_time(0, 100, [(10, 40), (30, 60), (90, 120)]), 40)

    def test_child_inside_another_child(self):
        self.assertAlmostEqual(metrics.self_time(0, 10, [(1, 9), (2, 3), (4, 5)]), 2)

    def test_children_outside_the_span_do_not_count(self):
        self.assertAlmostEqual(metrics.self_time(10, 20, [(0, 5), (25, 30)]), 10)

    def test_no_children(self):
        self.assertAlmostEqual(metrics.self_time(3, 7, []), 4)


class TracingOverheadTest(unittest.TestCase):
    def test_neighbours_cancel_a_steady_speed_up(self):
        # traced passes cost 0.5 more; every pass is 1.0 faster than the last
        walls = [10.5, 9.0, 8.5, 7.0, 6.5]
        traced = [True, False, True, False, True]
        self.assertAlmostEqual(metrics.tracing_overhead(walls, traced), 0.5)


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.base = os.path.join(cls.tmp.name, "base")
        gen.write_base(cls.base)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def corpus(self, name, seed):
        out = os.path.join(self.tmp.name, name)
        gen.write_corpus(self.base, out, seed, replicas=2)
        return out

    def test_base_is_the_same_every_time(self):
        again = os.path.join(self.tmp.name, "base2")
        gen.write_base(again)
        self.assertEqual(gen.dir_digest(self.base), gen.dir_digest(again))

    def test_same_seed_gives_identical_corpus(self):
        self.assertEqual(gen.dir_digest(self.corpus("a", 7)), gen.dir_digest(self.corpus("b", 7)))

    def test_other_seed_gives_other_corpus_of_same_shape(self):
        a, b = self.corpus("c", 7), self.corpus("d", 8)
        self.assertNotEqual(gen.dir_digest(a), gen.dir_digest(b))
        docs_a, emb_a = gen.corpus_tables(self.base, 7, 2)
        docs_b, emb_b = gen.corpus_tables(self.base, 8, 2)
        self.assertEqual(docs_a.num_rows, docs_b.num_rows)
        self.assertEqual(emb_a.num_rows, emb_b.num_rows)
        self.assertEqual(docs_a["lang"].to_pylist(), docs_b["lang"].to_pylist())
        self.assertNotEqual(docs_a["text"].to_pylist(), docs_b["text"].to_pylist())


class FailureCountTest(unittest.TestCase):
    verified = {
        "q1": {"status": "pass", "digest": "a"},
        "q2": {"status": "fail", "digest": "b", "note": "3 rows differ"},
        "q3": {"status": "unverified", "digest": "c", "note": "no oracle SQL"},
    }

    def test_throws_and_mismatches_count_as_failed(self):
        execs = [
            {"query": "q1", "digest": "a"},
            {"query": "q1", "error": "java.lang.RuntimeException: boom"},
            {"query": "q1", "digest": "z"},
            {"query": "q2", "digest": "b"},
            {"query": "q3", "digest": "c"},
        ]
        attempted, failed, reasons = metrics.count_failures(execs, self.verified)
        self.assertEqual((attempted, failed), (5, 3))
        self.assertIn("threw", reasons["q1"])
        self.assertIn("oracle check", reasons["q2"])
        self.assertNotIn("q3", reasons)

    def test_clean_run_has_no_failures(self):
        execs = [{"query": q, "digest": v["digest"]} for q, v in self.verified.items()
                 if v["status"] != "fail"]
        self.assertEqual(metrics.count_failures(execs, self.verified)[:2], (2, 0))


class OracleTest(unittest.TestCase):
    """The gate grades outputs as `tools/check.py` does, and every failed
    grade counts in `failed_frac`."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.base = os.path.join(cls.tmp.name, "base")
        gen.write_base(cls.base)
        cls.dump = os.path.join(cls.tmp.name, "dump")
        for q in ("q1", "q2", "q3"):
            os.makedirs(f"{cls.dump}/{q}")
            pq.write_table(pq.read_table(f"{cls.base}/region.parquet"), f"{cls.dump}/{q}/part-0.parquet")
        os.makedirs(f"{cls.dump}/q4")
        with open(f"{cls.dump}/q4/part-0.parquet", "wb") as f:
            f.write(b"not parquet")

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_grades(self):
        sql = {"q1": "SELECT r_name, r_regionkey FROM region",
               "q2": "SELECT * FROM no_such_table",
               "q4": "SELECT * FROM region"}
        got = oracle.verify(ROOT, self.base, self.dump, ["q1", "q2", "q3", "q4", "q5"], sql)
        self.assertEqual(got["q1"]["status"], "pass")
        self.assertIn("oracle error", got["q2"]["note"])
        self.assertIn("no oracle SQL", got["q3"]["note"])
        self.assertIn("spark-side", got["q4"]["note"])
        self.assertIn("no output", got["q5"]["note"])
        for q in ("q2", "q3", "q4", "q5"):
            self.assertEqual(got[q]["status"], "fail", q)
        verified = {q: dict(v, digest="d") for q, v in got.items()}
        execs = [{"query": q, "digest": "d"} for q in got]
        self.assertEqual(metrics.count_failures(execs, verified)[:2], (5, 4))


if __name__ == "__main__":
    unittest.main()
