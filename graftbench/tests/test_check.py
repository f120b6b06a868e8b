"""The answer checks count a deliberately wrong answer as a failure.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402


class OracleTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        data = os.path.join(self.dir, "data")
        os.makedirs(data)
        pq.write_table(pa.table({"r_regionkey": pa.array([0, 1, 2], pa.int32()),
                                 "r_name": ["A", "B", "C"]}),
                       os.path.join(data, "region.parquet"))
        self.data = data

    def result(self, name, table):
        d = os.path.join(self.dir, "results", name)
        os.makedirs(d)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))

    def test_right_and_wrong_answers(self):
        sql = "SELECT r_name, r_regionkey * 2 AS k FROM region"
        self.result("right", pa.table({"k": [4, 0, 2], "r_name": ["C", "A", "B"]}))
        self.result("wrong", pa.table({"k": [0, 2, 5], "r_name": ["A", "B", "C"]}))
        self.result("short", pa.table({"k": [0, 2], "r_name": ["A", "B"]}))
        self.result("renamed", pa.table({"kk": [0, 2, 4], "r_name": ["A", "B", "C"]}))
        got = check.oracle(os.path.join(self.dir, "results"),
                           {q: sql for q in ["right", "wrong", "short", "renamed", "missing"]},
                           self.data)
        self.assertIsNone(got["right"])
        for q in ["wrong", "short", "renamed", "missing"]:
            self.assertIsNotNone(got[q], q)
        self.assertEqual(check.tally(got), (5, 4))


class HashTest(unittest.TestCase):
    def test_a_changed_hash_fails_only_that_execution(self):
        execs = [{"query": "a", "hash": "1"}, {"query": "b", "hash": "9"},
                 {"query": "a", "hash": "1"}, {"query": "a", "hash": "2"},
                 {"query": "b", "error": "boom"}]
        got = check.stable_hashes(execs)
        self.assertEqual(check.tally(got), (5, 2))
        self.assertIsNotNone(got["a#3"])
        self.assertIsNotNone(got["b#4"])


class IngestTest(unittest.TestCase):
    ledger = [{"host": "P1", "event_type": "sword_event", "direction": "increase",
               "event_detail": "wood", "n": 3},
              {"host": "P2", "event_type": "guild_event", "direction": "decrease",
               "event_detail": "iron", "n": 2}]

    def landed(self, a3):
        total = sum(n for _, _, n in a3)
        return [{"query": "A1", "rows": [[str(total)]]},
                {"query": "A2", "rows": [["increase", "3"], ["decrease", "2"]]},
                {"query": "A3", "rows": [[h, t, str(n)] for h, t, n in a3]},
                {"query": "A4", "rows": [["P1", "sword_event", "wood"],
                                         ["P2", "guild_event", "iron"]]}]

    def test_reconciled(self):
        got = check.ingest(self.ledger, self.landed([("P1", "sword_event", 3),
                                                     ("P2", "guild_event", 2)]))
        self.assertEqual(check.tally(got), (5, 0))

    def test_pipeline_counters_must_match_the_generator(self):
        landed = self.landed([("P1", "sword_event", 3), ("P2", "guild_event", 2)])
        self.assertEqual(check.tally(check.ingest(self.ledger, landed, (5, 7), (5, 7))), (6, 0))
        got = check.ingest(self.ledger, landed, (5, 8), (5, 7))
        self.assertIsNotNone(got["graft_etl"])

    def test_a_lost_event_is_a_failure(self):
        got = check.ingest(self.ledger, self.landed([("P1", "sword_event", 2),
                                                     ("P2", "guild_event", 2)]))
        attempted, failed = check.tally(got)
        self.assertEqual(failed, 2)  # the total and P1's count
        self.assertIsNotNone(got["A3 ('P1', 'sword_event')"])


if __name__ == "__main__":
    unittest.main()
