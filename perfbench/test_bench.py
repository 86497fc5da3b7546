"""Tests of the benchmark's own bookkeeping.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import run


def span(i, start, end, parent=-1, name="x"):
    return {"id": i, "name": name, "parent": parent, "op": 0,
            "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(run.self_time(span(0, 0, 100), []), 100)

    def test_nested_children(self):
        # a child of a child does not count again: only direct children
        # are passed, and they already cover their own children
        parent = span(0, 0, 100)
        kids = [span(1, 10, 40, 0), span(2, 50, 60, 0)]
        self.assertEqual(run.self_time(parent, kids), 100 - 30 - 10)

    def test_overlapping_children_counted_once(self):
        parent = span(0, 0, 100)
        kids = [span(1, 10, 50, 0), span(2, 30, 70, 0), span(3, 60, 65, 0)]
        self.assertEqual(run.self_time(parent, kids), 100 - 60)

    def test_back_to_back_children(self):
        parent = span(0, 0, 100)
        kids = [span(1, 0, 25, 0), span(2, 25, 50, 0), span(3, 50, 100, 0)]
        self.assertEqual(run.self_time(parent, kids), 0)

    def test_children_clipped_to_parent(self):
        parent = span(0, 10, 20)
        self.assertEqual(run.self_time(parent, [span(1, 0, 15, 0)]), 5)

    def test_layer_metric_uses_self_time(self):
        spans = [span(0, 0, 1_000_000_000, name="op"),
                 dict(span(1, 0, 600_000_000, 0, "llmdata.dedup"), jobs=2),
                 dict(span(2, 100_000_000, 300_000_000, 1,
                           "llmdata.lsh.candidates"), rows=10),
                 dict(span(3, 300_000_000, 400_000_000, 1,
                           "llmdata.lsh.verify"), rows=8)]
        v = run.layer_metrics(spans, [])
        # dedup self time + its two children = the dedup span, once
        self.assertAlmostEqual(v["llmdata.dedup_s"], 0.6)
        self.assertEqual(v["llmdata.lsh.precision"], 0.8)
        self.assertEqual(v["spark.jobs"], 2)


class FailureCounting(unittest.TestCase):
    def test_thrown_and_mismatched_ops_fail_without_samples(self):
        expected = {"summary": [["kept", 1, 7, 3]]}
        ok = run.make_checker("corpus_build", expected)
        ops = [
            {"seconds": 1.0, "error": None, "output": [["kept", 1, 7, 3]]},
            {"seconds": 9.0, "error": "java.lang.OutOfMemoryError",
             "output": None},
            {"seconds": 5.0, "error": None, "output": [["kept", 1, 7, 4]]},
            {"seconds": 2.0, "error": None, "output": [["kept", 1, 7, 3]]},
        ]
        attempted, failed, secs = run.account(ops, ok)
        self.assertEqual((attempted, failed), (4, 2))
        self.assertEqual(secs, [1.0, 2.0])

    def test_model_gate_and_stable_hash(self):
        ok = run.make_checker("model_fit", None)
        good = {"acc_local": 0.9, "acc_dist": 0.95, "pred_hash": 11}
        self.assertTrue(ok(good))
        self.assertFalse(ok(dict(good, acc_dist=0.79)))
        self.assertFalse(ok(dict(good, pred_hash=12)))
        self.assertTrue(ok(good))


class Declared(unittest.TestCase):
    def test_every_declared_metric_is_computed(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([m["name"] for m in b["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual(sorted(m["name"] for m in b["per_layer"]),
                         sorted(run.PER_LAYER))
        self.assertEqual([w["name"] for w in b["workloads"]],
                         list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
