"""Self-tests of the benchmark's own logic; no JVM is started.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
import workloads  # noqa: E402
from stats import TooFewSamples, percentile  # noqa: E402


class RequestListTest(unittest.TestCase):
    def test_same_seed_same_requests(self):
        for w in ("sparql_read", "sparql_rw"):
            self.assertEqual(workloads.requests(w, 11, 4), workloads.requests(w, 11, 4))

    def test_other_seed_other_requests(self):
        self.assertNotEqual(workloads.requests("sparql_rw", 11, 2),
                            workloads.requests("sparql_rw", 12, 2))

    def test_every_pass_has_every_read_shape_and_write_kind(self):
        for ops in workloads.requests("sparql_rw", 3, 6):
            reads = sorted(o["shape"] for o in ops if o["kind"] == "read")
            self.assertEqual(reads, sorted(workloads.READ_SHAPES))
            writes = [o["shape"] for o in ops if o["kind"] == "write"]
            self.assertEqual(writes, workloads.WRITE_KINDS)
            for k, o in enumerate(ops):
                if o["kind"] == "write":
                    self.assertEqual(ops[k + 1]["shape"], o["shape"] + "_probe")

    def test_traced_pass_repeats_the_measured_reads(self):
        measured = workloads.requests("sparql_rw", 7, 1)[0]
        traced = workloads.requests("sparql_rw", 7, 1, "traced", reads="measure")[0]
        self.assertEqual([o["shape"] for o in traced], [o["shape"] for o in measured])
        self.assertEqual([o["query"] for o in traced if o["kind"] == "read"],
                         [o["query"] for o in measured if o["kind"] == "read"])
        self.assertNotEqual([o["update"] for o in traced if o["kind"] == "write"],
                            [o["update"] for o in measured if o["kind"] == "write"])

    def test_streams_write_disjoint_subjects(self):
        def subjects(stream):
            return {o["update"].split()[3] for p in workloads.requests("sparql_rw", 5, 3, stream)
                    for o in p if o["kind"] == "write" and o["shape"] == "insert_data"}
        self.assertFalse(subjects("warmup") & subjects("measure"))


class PercentileTest(unittest.TestCase):
    def test_refuses_a_thin_tail(self):
        with self.assertRaises(TooFewSamples):
            percentile(list(range(199)), 0.95)

    def test_reports_a_supported_tail(self):
        self.assertAlmostEqual(percentile(list(range(200)), 0.95), 189.05)


class WrongAnswerTest(unittest.TestCase):
    """A deliberately wrong answer must be counted as failed."""

    @classmethod
    def setUpClass(cls):
        import run
        cte = ("triples AS (SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS s, "
               "'nation' AS p, 'n:' || CAST(c_nationkey AS VARCHAR) AS o FROM customer)")
        cls.orc = oracle.Oracle(run.DATA, cte)

    def test_right_and_wrong_answers(self):
        req = {"sql": "SELECT s FROM triples WHERE o = 'n:3'"}
        right = self.orc.rows(req["sql"])
        self.assertTrue(right)
        self.assertTrue(self.orc.check_request(req, list(right)))
        self.assertFalse(self.orc.check_request(req, right[1:]))
        self.assertFalse(self.orc.check_request(req, right + [("c:999999",)]))

    def test_probe_answers(self):
        self.assertTrue(self.orc.check_request({"expect_bool": False}, False))
        self.assertFalse(self.orc.check_request({"expect_bool": False}, True))
        self.assertFalse(self.orc.check_request({"expect_rows": [("t1",)]}, [("t2",)]))

    def test_wrong_answer_counts_as_failed(self):
        import run
        r = run.Run.__new__(run.Run)
        r.failed, r.errors = 0, []
        req = {"sql": "SELECT s FROM triples WHERE o = 'n:3'", "shape": "star", "query": "q"}
        right = self.orc.rows(req["sql"])
        r.check(self.orc, [(req, right), (req, right[:-1])])
        self.assertEqual(r.failed, 1)
        self.assertIn("wrong answer", r.errors[0])


class ParseTest(unittest.TestCase):
    def test_select_terms(self):
        body = ('{"head":{"vars":["c","n"]},"results":{"bindings":['
                '{"c":{"type":"uri","value":"urn:graft:c:7"},"n":{"type":"literal","value":"12"}},'
                '{"c":{"type":"uri","value":"urn:graft:c:8"}}]}}')
        self.assertEqual(oracle.parse_select(body), [("c:7", "12"), ("c:8", None)])

    def test_ntriples_terms(self):
        body = ('<urn:graft:o:1> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "Order" .\n'
                '<urn:graft:o:1> <urn:graft:customer> <urn:graft:c:3> .\n')
        self.assertEqual(oracle.parse_ntriples(body),
                         [("o:1", "customer", "c:3"), ("o:1", "type", "Order")])


if __name__ == "__main__":
    unittest.main()
