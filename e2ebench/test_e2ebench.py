#!/usr/bin/env python3
"""Benchmark self-tests: the same seed gives the same inputs, another seed
other inputs, the message ledger accounts for every row, and
BENCHMARK.json lists exactly the metrics run.py reports.

    python3 -m unittest e2ebench/test_e2ebench.py
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import run  # noqa: E402

# a small stand-in for the dumped topic specs: one topic with a sport
# field, one without, one with a nested sport path
SPECS = {
    "live_score": {"name": "live_score", "sport": "strSport", "fields": [
        {"name": n} for n in ("idLiveScore", "idEvent", "idLeague", "strSport",
                              "intHomeScore", "updated", "dateEvent", "ingested_at")]},
    "event.stats": {"name": "event.stats", "sport": None, "fields": [
        {"name": n} for n in ("idEvent", "idStatistic", "strStat", "intHome", "ingested_at")]},
    "player": {"name": "player", "sport": "lookup_player.strSport", "fields": [
        {"name": "idPlayer"}, {"name": "idTeam"},
        {"name": "lookup_player", "fields": [{"name": "strSport"}, {"name": "dateBorn"}]},
        {"name": "ingested_at"}]},
}


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, *parts):
        return os.path.join(self.tmp.name, *parts)

    def test_messages_deterministic_per_seed(self):
        a = gen.messages(SPECS, 7, 3000, self.path("a"), 3)
        b = gen.messages(SPECS, 7, 3000, self.path("b"), 3)
        c = gen.messages(SPECS, 8, 3000, self.path("c"), 3)
        self.assertEqual(a, b)
        self.assertEqual(tree_digest(self.path("a")), tree_digest(self.path("b")))
        self.assertNotEqual(tree_digest(self.path("a")), tree_digest(self.path("c")))

    def test_ledger_accounts_for_every_row(self):
        ledger = gen.messages(SPECS, 3, 5000, self.path("m"), 4)
        total = sum(sum(v.values()) for v in ledger["topics"].values())
        self.assertEqual(total, 5000)
        self.assertEqual(ledger["rows"], 5000)
        # topics without a sport field never carry a wrong sport
        self.assertEqual(ledger["topics"]["event.stats"]["rejected"], 0)
        bad = sum(v["parse_failed"] for v in ledger["topics"].values())
        self.assertTrue(0.02 < bad / 5000 < 0.06, bad)

    def test_values_are_warehouse_ready(self):
        g = gen.MessageGen(SPECS, 5, 1000)
        for _ in range(300):
            topic, value, _ = g.next()
            if value.startswith("NOT JSON"):
                continue
            doc = json.loads(value)
            for k in ("idEvent", "idLeague", "idPlayer", "idTeam"):
                if k in doc:
                    self.assertTrue(doc[k].isdigit(), (k, doc[k]))
            if "updated" in doc:
                self.assertRegex(doc["updated"], r"^\d{4}-\d\d-\d\d \d\d:\d\d:\d\d$")

    def test_tables_deterministic_per_seed(self):
        gen.tables(1, 0.001, self.path("a"))
        gen.tables(1, 0.001, self.path("b"))
        gen.tables(2, 0.001, self.path("c"))
        self.assertEqual(tree_digest(self.path("a")), tree_digest(self.path("b")))
        self.assertNotEqual(tree_digest(self.path("a")), tree_digest(self.path("c")))
        self.assertEqual(len(os.listdir(self.path("a"))), 10)

    def test_corpus_deterministic_per_seed(self):
        gen.corpus(4, 200, self.path("a"))
        gen.corpus(4, 200, self.path("b"))
        gen.corpus(5, 200, self.path("c"))
        self.assertEqual(tree_digest(self.path("a")), tree_digest(self.path("b")))
        self.assertNotEqual(tree_digest(self.path("a")), tree_digest(self.path("c")))


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_lists_match_run_py(self):
        path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         run.PER_LAYER)
        self.assertTrue(set(w["name"] for w in b["workloads"]) <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
