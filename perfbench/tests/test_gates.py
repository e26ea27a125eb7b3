"""Tests that a failed unit of work can never pass as a fast, correct run:
python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import metrics, oracle  # noqa: E402

CSV = {"rent_contracts": {"rows": 10, "planted": [7]}}


def run(ok, cycle=0):
    tables = [{"table": "rent_contracts", "rows": 9, "quarantined": 1,
               "quarantined_ids": [7], "columns": ["id", "rooms"],
               "bytes_out": 100}] if ok else []
    return {"ok": ok, "cycle": cycle, "traced": False, "wall_s": 1.0,
            "tables": tables}


class EtlGateTest(unittest.TestCase):
    def test_good_run_passes(self):
        raw = {"facts": {"runs": [run(True)]}}
        self.assertEqual(oracle.etl_gate(raw, {"csv": CSV}), [])

    def test_failed_first_run_fails_the_gate(self):
        raw = {"facts": {"runs": [run(False)]}}
        self.assertEqual(oracle.etl_gate(raw, {"csv": CSV}),
                         ["the first pipeline run failed"])

    def test_wrong_quarantine_fails_the_gate(self):
        r = run(True)
        r["tables"][0]["quarantined_ids"] = [8]
        raw = {"facts": {"runs": [r]}}
        self.assertEqual(len(oracle.etl_gate(raw, {"csv": CSV})), 1)


class AisGateTest(unittest.TestCase):
    def test_failed_feed_fails_the_gate(self):
        raw = {"facts": {"feeds": [{"tag": "plain", "ok": False,
                                    "gate": {}}]}}
        self.assertEqual(oracle.ais_gate(raw), ["plain: the stream failed"])

    def test_vacuous_gate_fails(self):
        gate = {"alerts": 0, "expected": 0, "missing": 0, "extra": 0}
        raw = {"facts": {"feeds": [{"tag": "plain", "ok": True,
                                    "gate": gate}]}}
        self.assertEqual(len(oracle.ais_gate(raw)), 1)


class MetricsTest(unittest.TestCase):
    def test_median_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics._median([])

    def test_batch_metrics_come_from_the_first_cycle(self):
        first = run(True)
        first["wall_s"] = 3.0
        raw = {"setup": {"total_s": 2.0, "session_s": 1.0, "warmup_s": 1.0},
               "peak_rss_kb": 2048, "cores": 4,
               "facts": {"csv_bytes": 1000, "runs": [first],
                         "passes": [{"ok": True, "cycle": 0, "traced": False,
                                     "wall_s": 5.0, "queries": []}]}}
        e2e, _, report = metrics.compute("batch", raw, {"csv": CSV})
        self.assertEqual(e2e["wall_s"], (8.0, "s"))
        self.assertEqual(e2e["space_ratio"], (0.1, "bytes/byte"))
        self.assertEqual(e2e["peak_rss_mb"], (2.0, "MB"))
        self.assertEqual(report["pipeline_s"], (3.0, "s"))


if __name__ == "__main__":
    unittest.main()
