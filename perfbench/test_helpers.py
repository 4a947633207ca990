"""Unit tests of the benchmark's helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import smtplib
import sys
import tempfile
import unittest
from email.mime.text import MIMEText

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import digest  # noqa: E402
import relay  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 201))
        self.assertEqual(stats.percentile(xs, 50), 100)
        self.assertEqual(stats.percentile(xs, 95), 190)

    def test_two_samples_have_no_tail(self):
        # Two chunks are two samples, however many readings each holds.
        with self.assertRaises(ValueError):
            stats.percentile([1, 2], 95)

    def test_rejects_thin_tail(self):
        # p95 of 199 samples leaves 9 beyond the rank: refused.
        with self.assertRaises(ValueError):
            stats.percentile(list(range(199)), 95)
        # 200 samples leave exactly 10: accepted.
        stats.percentile(list(range(200)), 95)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(15)), 50)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(100)), 5)


class SelfTimeTest(unittest.TestCase):
    def test_covered_merges_and_clips(self):
        self.assertEqual(stats.covered(0, 10, [(1, 3), (2, 5), (8, 12)]), 6)
        self.assertEqual(stats.covered(0, 10, []), 0)
        self.assertEqual(stats.covered(0, 10, [(-5, -1), (11, 12)]), 0)

    def test_self_time_subtracts_children(self):
        spans = [
            {"id": "q", "parent": None, "kind": "query", "start": 0, "end": 10},
            {"id": "j1", "parent": "q", "kind": "job", "start": 1, "end": 4},
            {"id": "j2", "parent": "q", "kind": "job", "start": 3, "end": 6},
            {"id": "p", "parent": "q", "kind": "planning", "start": 0, "end": 1},
        ]
        own = stats.self_times(spans)
        self.assertEqual(own["q"], 10 - 6)
        self.assertEqual(own["j1"], 3)

    def test_assign_parents_by_unit_and_overlap(self):
        spans = [
            {"id": "b1", "kind": "batch", "unit": "alerts", "start": 0, "end": 10},
            {"id": "b2", "kind": "batch", "unit": "alerts", "start": 10, "end": 20},
            {"id": "b3", "kind": "batch", "unit": "persist", "start": 0, "end": 20},
            {"id": "w", "kind": "jdbc_write", "unit": "alerts", "start": 9, "end": 15},
        ]
        stats.assign_parents(spans)
        self.assertEqual(spans[3]["parent"], "b2")
        self.assertEqual(stats.self_times(spans)["b2"], 5)


class DigestTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.con = duckdb.connect()
        self.con.execute(
            f"COPY (SELECT * FROM (VALUES (2, 'b'), (1, 'a')) t(x, y)) "
            f"TO '{self.dir.name}/out.parquet' (FORMAT PARQUET)")

    def tearDown(self):
        self.con.close()
        self.dir.cleanup()

    def test_order_independent_match(self):
        # Other row order and other column order: the same digest.
        ok, _ = digest.compare(
            self.con, self.dir.name,
            "SELECT y, x FROM (VALUES (1, 'a'), (2, 'b')) t(x, y)")
        self.assertTrue(ok)

    def test_value_mismatch(self):
        ok, detail = digest.compare(
            self.con, self.dir.name,
            "SELECT * FROM (VALUES (1, 'a'), (3, 'b')) t(x, y)")
        self.assertFalse(ok)
        self.assertIn("hash_match=False", detail)

    def test_duplicate_rows_count(self):
        ok, _ = digest.compare(
            self.con, self.dir.name,
            "SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (2, 'b')) t(x, y)")
        self.assertFalse(ok)

    def test_column_set_mismatch(self):
        ok, detail = digest.compare(
            self.con, self.dir.name,
            "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(x, z)")
        self.assertFalse(ok)
        self.assertIn("column sets differ", detail)


class RelayTest(unittest.TestCase):
    def test_accepts_and_counts_messages(self):
        r = relay.FakeSmtpRelay().start()
        try:
            for i in range(3):
                msg = MIMEText(f"body {i}\n.leading dot", _charset="utf-8")
                msg["Subject"] = "[ALERTE CRITICAL] Capteur A_1_100_temperature"
                with smtplib.SMTP("127.0.0.1", r.port, timeout=5) as s:
                    s.ehlo("graft.local")
                    s.sendmail("alerts@example.com", ["ops@example.com"],
                               msg.as_string())
            self.assertEqual(r.accepted, 3)
            self.assertGreater(r.bytes, 0)
        finally:
            r.stop()

    def test_unknown_command_is_refused(self):
        r = relay.FakeSmtpRelay().start()
        try:
            with smtplib.SMTP("127.0.0.1", r.port, timeout=5) as s:
                code, _ = s.docmd("VRFY", "ops")
                self.assertEqual(code, 502)
            self.assertEqual(r.accepted, 0)
        finally:
            r.stop()


if __name__ == "__main__":
    unittest.main()
