"""Tests of the metric arithmetic: python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics as M  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 50), 50)
        self.assertEqual(M.percentile(xs, 90), 90)
        self.assertEqual(M.percentile(reversed(xs), 99), 99)
        self.assertEqual(M.percentile([7.0], 90), 7.0)
        self.assertEqual(M.percentile([3, 1, 2], 50), 2)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            M.percentile([], 50)

    def test_samples_beyond(self):
        self.assertEqual(M.beyond(100, 90), 10)
        self.assertEqual(M.beyond(99, 90), 9)
        self.assertEqual(M.beyond(1, 50), 0)

    def test_highest_reportable_keeps_ten_beyond(self):
        self.assertEqual(M.highest_reportable(100), 90)
        self.assertEqual(M.highest_reportable(99), 50)
        self.assertEqual(M.highest_reportable(200), 95)
        self.assertEqual(M.highest_reportable(1000), 99)
        self.assertEqual(M.highest_reportable(20), 50)
        self.assertIsNone(M.highest_reportable(19))
        for n in range(1, 3000, 7):
            p = M.highest_reportable(n)
            if p is not None:
                self.assertGreaterEqual(M.beyond(n, p), 10)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(M.self_time((0, 10), []), 10)

    def test_disjoint_and_overlapping_children(self):
        self.assertEqual(M.self_time((0, 10), [(1, 3), (5, 6)]), 7)
        self.assertEqual(M.self_time((0, 10), [(1, 4), (2, 6), (5, 7)]), 4)
        self.assertEqual(M.self_time((0, 10), [(2, 8), (3, 4)]), 4)

    def test_children_clipped_to_span(self):
        self.assertEqual(M.self_time((0, 10), [(-5, 2), (9, 20)]), 7)
        self.assertEqual(M.self_time((0, 10), [(11, 12), (-3, -1)]), 10)
        self.assertEqual(M.self_time((0, 10), [(-1, 11)]), 0)

    def test_touching_and_empty_children(self):
        self.assertEqual(M.self_time((0, 10), [(1, 3), (3, 5)]), 6)
        self.assertEqual(M.self_time((0, 10), [(4, 4)]), 10)


class Attribution(unittest.TestCase):
    spans = [{"id": 0, "kind": "pass", "name": "pass1", "start_ms": 0, "end_ms": 100},
             {"id": 1, "kind": "query", "name": "a", "start_ms": 0, "end_ms": 40},
             {"id": 2, "kind": "query", "name": "b", "start_ms": 40, "end_ms": 100}]

    def test_by_property_then_by_time(self):
        jobs = [{"id": 7, "start_ms": 10, "end_ms": 20, "span": 2},
                {"id": 8, "start_ms": 50, "end_ms": 60, "span": None},
                {"id": 9, "start_ms": 200, "end_ms": 210, "span": None}]
        self.assertEqual(M.attribute_jobs(self.spans, jobs, "query"), {7: 2, 8: 2})

    def test_by_stream_batch_id(self):
        spans = [{"id": 5, "kind": "trigger", "name": "3", "start_ms": 0, "end_ms": 10}]
        jobs = [{"id": 1, "start_ms": 50, "end_ms": 60, "batch_id": 3}]
        self.assertEqual(M.attribute_jobs(spans, jobs, "trigger"), {1: 5})

    def test_stage_goes_to_latest_listing_job(self):
        jobs = [{"id": 1, "start_ms": 0, "stage_ids": [1, 2]},
                {"id": 2, "start_ms": 5, "stage_ids": [2, 3]}]
        stages = [{"id": 1, "attempt": 0, "submit_ms": 1},
                  {"id": 2, "attempt": 0, "submit_ms": 6},
                  {"id": 3, "attempt": 0, "submit_ms": 7}]
        self.assertEqual(M.stage_jobs(jobs, stages), {(1, 0): 1, (2, 0): 2, (3, 0): 2})

    def test_layer_sums(self):
        trace = {"spans": self.spans,
                 "jobs": [{"id": 1, "start_ms": 10, "end_ms": 30, "span": 1,
                           "stage_ids": [0]}],
                 "stages": [{"id": 0, "attempt": 0, "submit_ms": 10, "end_ms": 30,
                             "cpu_ns": 2e9, "run_ms": 3000, "gc_ms": 100,
                             "shuffle_write_bytes": M.MB, "spill_disk_bytes": 0,
                             "output_bytes": 0, "task_ms": [1, 1, 4],
                             "task_wait_ms": [0, 5, 5]}]}
        saved = dict(M.QUERY_LAYER)
        M.QUERY_LAYER.update({"a": "Relational", "b": "Crypto"})
        try:
            out = M.batch_layers(trace)
        finally:
            M.QUERY_LAYER.clear()
            M.QUERY_LAYER.update(saved)
        self.assertAlmostEqual(out["Relational.wall_s"], 0.04)
        self.assertAlmostEqual(out["Relational.driver_s"], 0.02)
        self.assertAlmostEqual(out["Relational.task_cpu_s"], 2.0)
        self.assertAlmostEqual(out["Relational.queue_s"], 0.01)
        self.assertEqual(out["Relational.jobs"], 1)
        self.assertAlmostEqual(out["Relational.skew"], 4.0)
        self.assertAlmostEqual(out["Crypto.driver_s"], 0.06)
        self.assertEqual(out["Crypto.jobs"], 0)


class Admission(unittest.TestCase):
    def test_triggers_from_progress(self):
        p = {"batchId": 4, "timestamp": "2026-01-01T00:00:01.500Z", "numInputRows": 20,
             "durationMs": {"triggerExecution": 2000, "addBatch": 1500}}
        idle = dict(p, batchId=5, numInputRows=0)
        (t,) = M.triggers([json.loads(json.dumps(p)), idle])
        self.assertEqual(t["batch_id"], 4)
        self.assertEqual(t["end_ms"] - t["start_ms"], 2000)
        self.assertEqual(t["add_batch_s"], 1.5)

    def test_latency_counts_from_due_time(self):
        trigs = [{"batch_id": 1, "start_ms": 1000, "end_ms": 3000},
                 {"batch_id": 2, "start_ms": 3000, "end_ms": 6000}]
        dels = [{"file": "f0", "due_ms": 1000, "delivered_ms": 1000},
                {"file": "f1", "due_ms": 2000, "delivered_ms": 2500}]
        file_docs = {"f0": [10, 11], "f1": [12]}
        doc_batch = {10: 1, 11: 1, 12: 2}
        self.assertEqual(M.doc_latencies(dels, file_docs, doc_batch, trigs), [2.0, 2.0, 4.0])
        self.assertEqual(M.backlog_max(dels, file_docs, doc_batch, trigs), 2)


if __name__ == "__main__":
    unittest.main()
