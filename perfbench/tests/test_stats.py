"""Tests of the metric arithmetic: python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_median_always_reported(self):
        self.assertEqual(stats.percentile([3.0], 50), 3.0)
        self.assertEqual(stats.percentile([1.0, 2.0, 3.0, 4.0], 50), 2.5)

    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 100))  # 99 samples: only 9 beyond the p90 rank
        self.assertIsNone(stats.percentile(xs, 90))
        xs = list(range(1, 101))  # 100 samples: exactly 10 beyond
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(len([x for x in xs if x > 90]), 10)

    def test_p99_needs_a_thousand(self):
        self.assertIsNone(stats.percentile(range(999), 99))
        self.assertEqual(stats.percentile(range(1, 1001), 99), 990)

    def test_empty(self):
        self.assertIsNone(stats.percentile([], 50))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_touches(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4)]),
                         [(0, 4), (5, 7)])
        self.assertEqual(stats.measure([(0, 2), (1, 3), (10, 11)]), 4)

    def test_empty_intervals_ignored(self):
        self.assertEqual(stats.union([(2, 2), (3, 1)]), [])

    def test_subtract(self):
        self.assertEqual(stats.subtract([(0, 10)], [(2, 3), (5, 7)]),
                         [(0, 2), (3, 5), (7, 10)])
        self.assertEqual(stats.subtract([(0, 10)], [(-5, 15)]), [])
        self.assertEqual(stats.subtract([(0, 4), (6, 10)], [(3, 7)]),
                         [(0, 3), (7, 10)])
        self.assertEqual(stats.subtract([(0, 4)], []), [(0, 4)])

    def test_driver_time_is_span_self_time_minus_job_cover(self):
        # parent span 0..100 with a child 40..60; jobs run 10..30 in the
        # parent, 45..50 inside the child and 55..70 across the boundary
        spans = [
            {"id": 1, "parent": 0, "layer": "etl", "name": "p",
             "start": 0.0, "end": 100.0},
            {"id": 2, "parent": 1, "layer": "ingest", "name": "c",
             "start": 40.0, "end": 60.0}]
        job = {"stages": 1, "tasks": 2, "run_ms": 10, "cpu_ns": 10**7,
               "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
               "peak_mem": 0, "gc_ms": 0, "ok": True}
        jobs = [dict(job, id=0, group="pb-1", start=10, end=30),
                dict(job, id=1, group="pb-2", start=45, end=50),
                dict(job, id=2, group="", start=55, end=70)]
        roll = stats.layer_rollup(spans, jobs, [{"start": 41, "ms": 3}], 4)
        # etl self time: 0..40 and 60..100 = 80 ms; jobs cover 10..30 and
        # 60..70 of it, so 50 ms are driver time
        self.assertAlmostEqual(roll["etl"]["driver_s"], 0.050)
        # ingest self time 40..60, covered 45..50 and 55..60
        self.assertAlmostEqual(roll["ingest"]["driver_s"], 0.010)
        # the ungrouped job started inside the child span
        self.assertEqual(roll["etl"]["jobs"], 1)
        self.assertEqual(roll["ingest"]["jobs"], 2)
        self.assertEqual(roll["ingest"]["plan_ms"], 3)
        self.assertAlmostEqual(roll["etl"]["util"], 0.010 / (4 * 0.080))


class LagTest(unittest.TestCase):
    def write_log(self, root, batches):
        d = os.path.join(root, "sources", "0")
        os.makedirs(d)
        for name, body in batches.items():
            with open(os.path.join(d, name), "w") as f:
                f.write("v1\n")
                for path, b in body:
                    f.write(json.dumps({"path": f"file://{root}/landing/{path}",
                                        "timestamp": 1, "batchId": b}) + "\n")
        with open(os.path.join(d, ".1.crc"), "w") as f:
            f.write("junk")

    def test_files_attributed_to_their_batch(self):
        with tempfile.TemporaryDirectory() as root:
            # batch 1's log was compacted into 1.compact, batch 2 is plain
            self.write_log(root, {
                "1.compact": [("a.parquet", 0), ("b.parquet", 1),
                              ("c.parquet", 1)],
                "2": [("d.parquet", 2)]})
            fb = stats.read_source_log(root)
        self.assertEqual(fb, {"a.parquet": 0, "b.parquet": 1,
                              "c.parquet": 1, "d.parquet": 2})
        due = {"a.parquet": 1000.0, "b.parquet": 1100.0, "c.parquet": 1200.0,
               "d.parquet": 1600.0}
        ends = {0: 1500.0, 1: 2500.0, 2: 2600.0}
        lags = stats.file_lags(due, fb, ends)
        self.assertEqual(lags, {"a.parquet": 0.5, "b.parquet": 1.4,
                                "c.parquet": 1.3, "d.parquet": 1.0})
        landed = {k: v + 5 for k, v in due.items()}
        starts = {0: 1010.0, 1: 1500.0, 2: 2500.0}
        # at batch 1's start b and c had landed and were not yet consumed;
        # d landed after it
        self.assertEqual(stats.max_backlog(landed, fb, starts), 2)

    def test_unconsumed_file_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.file_lags({"x": 1.0}, {}, {})
        with self.assertRaises(ValueError):
            stats.file_lags({"x": 1.0}, {"x": 3}, {0: 2.0})


if __name__ == "__main__":
    unittest.main()
