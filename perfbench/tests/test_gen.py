"""Generator tests: determinism, the stated feed shape, and agreement of
the benchmark's LWW fold with graft's CdcMaterializer.

    python3 -m unittest discover -s perfbench/tests     (from the repo root)

The CdcMaterializer test builds the benchmark (as run.py does) on first use.
"""
import collections
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402
import run  # noqa: E402


def same_tree(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


class Determinism(unittest.TestCase):
    def check(self, make):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            make(1, a)
            make(1, b)
            make(2, c)
            self.assertTrue(same_tree(a, b), "same seed must give byte-identical inputs")
            self.assertFalse(same_tree(a, c), "different seeds must give different inputs")

    def test_tables(self):
        self.check(lambda s, d: gen.tables(s, d, lineitems=3_000, docs=50, vecs=50))

    def test_feed(self):
        self.check(lambda s, d: gen.feed(s, d, keys=500, batch=200, steps=3))

    def test_churn(self):
        self.check(lambda s, d: gen.churn(s, d, docs=50, vecs=50, orders=200, per_step=30,
                                          steps=2))


class FeedShape(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.n = gen.feed(7, cls.tmp.name, keys=2_000, batch=1_000, steps=5, groups=50)
        cls.files = [gen.read_feed(os.path.join(cls.tmp.name, f"b{i:05d}.json"))
                     for i in range(cls.n)]

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_delete_share(self):
        for rows in self.files[1:]:
            share = sum(r["op"] == "delete" for r in rows) / len(rows)
            self.assertTrue(0.08 <= share <= 0.11, share)

    def test_live_key_count_is_fixed(self):
        live = len(gen.lww_final(self.files[0]))
        everything = [r for rows in self.files for r in rows]
        self.assertEqual(len(gen.lww_final(everything)), live)

    def test_same_ts_ties_ordered_by_seq(self):
        ties = 0
        for rows in self.files[1:]:
            for a, b in zip(rows, rows[1:]):
                if a["ts"] == b["ts"]:
                    ties += 1
                    self.assertEqual(a["key"], b["key"])
                    self.assertEqual(b["seq"], a["seq"] + 1)
        self.assertGreater(ties, 0)
        seqs = [r["seq"] for rows in self.files for r in rows]
        self.assertEqual(len(seqs), len(set(seqs)))

    def test_group_skew(self):
        groups = collections.Counter(r["payload"]["g"] for r in self.files[0])
        top = groups.most_common(1)[0][1] / sum(groups.values())
        self.assertGreater(top, 5 / 50, "the hottest group should take >5x a uniform share")

    def test_lww_tie_resolution(self):
        rows = [{"op": "insert", "key": 1, "ts": "t1", "seq": 1, "payload": {"v": "a"}},
                {"op": "update", "key": 1, "ts": "t2", "seq": 3, "payload": {"v": "c"}},
                {"op": "update", "key": 1, "ts": "t2", "seq": 2, "payload": {"v": "b"}},
                {"op": "insert", "key": 2, "ts": "t1", "seq": 4, "payload": {"v": "x"}},
                {"op": "delete", "key": 2, "ts": "t1", "seq": 5, "payload": {}}]
        self.assertEqual(gen.lww_final(rows), {1: {"v": "c"}})


class AgreesWithCdcMaterializer(unittest.TestCase):
    def test_small_feed(self):
        root = os.path.dirname(os.path.dirname(HERE))
        cp = run.build(root)
        with tempfile.TemporaryDirectory() as t:
            n = gen.feed(11, t, keys=300, batch=200, steps=4, groups=20)
            out = os.path.join(t, "engine.jsonl")
            subprocess.run(["java"] + [x for p in run.ADD_OPENS
                                       for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
                           + [f"-Djava.io.tmpdir={t}", f"-Dspark.local.dir={t}",
                              "-cp", cp, "graftbench.LwwCheck", t, out],
                           check=True, capture_output=True, timeout=300)
            with open(out) as f:
                engine = {r["key"]: r["payload"] for r in map(json.loads, f)}
            changes = [r for i in range(n) for r in gen.read_feed(os.path.join(t, f"b{i:05d}.json"))]
            self.assertEqual(engine, gen.lww_final(changes))


if __name__ == "__main__":
    unittest.main()
