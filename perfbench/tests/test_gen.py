"""Tests of the input generators: python3 -m unittest discover perfbench/tests"""
import filecmp
import hashlib
import json
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


def reference_verdicts(docs, split):
    """The admission rules of the engine's batch recompute, written out
    directly: held_out, gate, exact_dup, contaminated, near_dup, admitted,
    first match wins, for every doc at or above the split."""
    def gated(text):
        toks = [t for t in text.split(" ") if t]
        low = [t.lower() for t in toks]
        en = sum(t in gen.EN_WORDS for t in low)
        stops = sum(t in gen.STOPS for t in low)
        return en >= 2 and toks and min(100, 2 * len(toks)) + min(50, 5 * stops) >= 60

    bench = set()
    for d, text, source in docs:
        if source == "src0" and d < split:
            bench |= gen.shingles(text)
    keeper, population = {}, []
    for d, text, source in docs:
        if gated(text) and text not in keeper:
            keeper[text] = d
    for d, text, source in docs:
        if (source != "src0" and gated(text) and keeper[text] == d
                and not gen.shingles(text) & bench):
            population.append((d, text))
    bucket_min = {}
    for d, text in population:
        for band in enumerate(gen.minhash_bands(text)):
            bucket_min.setdefault(band, d)
    toks = {d: gen.token_set(t) for d, t in population}
    near = set()
    for d, text in population:
        cands = [bucket_min[b] for b in enumerate(gen.minhash_bands(text)) if bucket_min[b] < d]
        if cands:
            k = min(cands)
            inter = len(toks[d] & toks[k])
            uni = len(toks[d]) + len(toks[k]) - inter
            if uni > 0 and inter * 100 // uni >= 50:
                near.add(d)
    out = {}
    for d, text, source in docs:
        if d < split:
            continue
        if source == "src0":
            v = "held_out"
        elif not gated(text):
            v = "gate"
        elif keeper[text] != d:
            v = "exact_dup"
        elif gen.shingles(text) & bench:
            v = "contaminated"
        elif d in near:
            v = "near_dup"
        else:
            v = "admitted"
        out[d] = v
    return out


class Corpus(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a, cls.b = f"{cls.tmp.name}/a", f"{cls.tmp.name}/b"
        cls.planted = gen.write_corpus(cls.a, 5, 2, 10)
        gen.write_corpus(cls.b, 5, 2, 10)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_identical_bytes(self):
        cmp = filecmp.dircmp(self.a, self.b)
        names = []
        for d in ["", "corpus", "stage"]:
            for f in sorted(os.listdir(f"{self.a}/{d}")):
                p = f"{d}/{f}".lstrip("/")
                if os.path.isfile(f"{self.a}/{p}"):
                    names.append(p)
                    with open(f"{self.a}/{p}", "rb") as x, open(f"{self.b}/{p}", "rb") as y:
                        self.assertEqual(hashlib.sha256(x.read()).digest(),
                                         hashlib.sha256(y.read()).digest(), p)
        self.assertIn("corpus/documents.parquet", names)
        self.assertFalse(cmp.left_only or cmp.right_only)

    def test_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as c:
            gen.write_corpus(c, 6, 2, 10)
            self.assertFalse(filecmp.cmp(f"{c}/corpus/documents.parquet",
                                         f"{self.a}/corpus/documents.parquet", shallow=False))

    def test_planted_shares(self):
        files = 12
        want = {k: gen.FILE_CLASSES.count(k) * files for k in set(gen.FILE_CLASSES)}
        self.assertEqual(self.planted, want)
        self.assertTrue(all(self.planted[k] > 0 for k in
                            ["held_out", "gate", "exact_dup", "contaminated",
                             "near_dup", "admitted"]))

    def test_layout_matches_engine_split(self):
        t = pq.read_table(f"{self.a}/corpus/documents.parquet").to_pydict()
        mx = max(t["doc_id"])
        split = mx - mx // 5
        meta = json.load(open(f"{self.a}/planted.json"))
        self.assertEqual(split, meta["split"])
        stage = sorted(os.listdir(f"{self.a}/stage"))
        ids = [i for f in stage for i in pq.read_table(f"{self.a}/stage/{f}")["doc_id"].to_pylist()]
        self.assertEqual(ids, list(range(split, mx + 1)))
        lines = open(f"{self.a}/files.tsv").read().splitlines()
        self.assertEqual([ln.split("\t")[0] for ln in lines], stage)
        self.assertEqual([ln.split("\t")[2] for ln in lines], ["1", "1"] + ["0"] * 10)

    def test_planted_verdicts_follow_the_admission_rules(self):
        t = pq.read_table(f"{self.a}/corpus/documents.parquet").to_pydict()
        docs = list(zip(t["doc_id"], t["text"], t["source"]))
        meta = json.load(open(f"{self.a}/planted.json"))
        want = {int(k): v for k, v in meta["verdicts"].items()}
        self.assertEqual(reference_verdicts(docs, meta["split"]), want)

    def test_near_dups_of_increment_docs_land_after_the_warm_files(self):
        t = pq.read_table(f"{self.a}/corpus/documents.parquet").to_pydict()
        meta = json.load(open(f"{self.a}/planted.json"))
        split, per = meta["split"], gen.DOCS_PER_FILE
        text = dict(zip(t["doc_id"], t["text"]))
        warm = [d for d in range(split, split + 2 * per) if meta["verdicts"][str(d)] == "admitted"]
        late = [d for d, v in meta["verdicts"].items() if v == "near_dup"
                and int(d) >= split + 3 * per]
        hits = [d for d in late for w in warm
                if len(gen.token_set(text[int(d)]) & gen.token_set(text[w])) > 20]
        self.assertTrue(hits)


class Tier(unittest.TestCase):
    def test_tier_is_deterministic_and_complete(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_tier(a, sf=0.001)
            gen.write_tier(b, sf=0.001)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(f"{t}.parquet" for t in
                                           ["region", "nation", "customer", "supplier", "part",
                                            "orders", "lineitem", "events", "documents",
                                            "embeddings"]))
            for n in names:
                self.assertTrue(filecmp.cmp(f"{a}/{n}", f"{b}/{n}", shallow=False), n)


if __name__ == "__main__":
    unittest.main()
