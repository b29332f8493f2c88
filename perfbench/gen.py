"""Input generators for the benchmark.

`write_tier` writes the ten-table batch tier (the star schema plus events,
documents and embeddings), shaped like the project's sf0.01 test tier.
`write_corpus` writes the admission corpus: a base that set-up indexes and
an increment, cut into small files, in which every verdict class is planted
in fixed shares. The same arguments give byte-identical files.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TIER_SEED = 42
MKT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "green"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
TIER_WORDS = ("the a row query stream fast spark line small customer group value "
              "hash batch sort data big filter dup key agg scan slow table part "
              "merge window order column join vector").split()

# Text rules of the engine's ingest gates (Text.corpusGates).
EN_WORDS = {"the", "and", "of", "to", "a", "in", "is", "for"}
STOPS = ["the", "a", "and", "of", "to", "in", "is"]

# Verdict classes planted in each increment file of ten documents.
FILE_CLASSES = (["held_out", "gate", "exact_dup"] + ["contaminated"] * 2
                + ["near_dup"] * 2 + ["admitted"] * 3)
DOCS_PER_FILE = len(FILE_CLASSES)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts_us(days_from_epoch):
    return pa.array(np.asarray(days_from_epoch, dtype="int64"), pa.int64()).cast(
        pa.timestamp("us"))


def write_tier(out, sf=0.01, seed=TIER_SEED):
    """Writes region..embeddings parquet files into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users, n_docs, n_emb = int(15000 * sf), int(50000 * sf), int(50000 * sf)
    day_us = 86400 * 10**6

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [MKT[i] for i in rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n_part)]}),
        f"{out}/part.parquet")

    epoch_1995 = 9131  # days from 1970-01-01 to 1995-01-01
    odate = epoch_1995 + rng.integers(0, 2404, n_ord)
    _write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts_us(odate * day_us),
        "o_orderpriority": [PRIO[p] for p in rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")

    lok = rng.integers(0, n_ord, n_li)
    _write(pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [["A", "N", "R"][f] for f in rng.integers(0, 3, n_li)],
        "l_linestatus": [["F", "O"][f] for f in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us((odate[lok] + rng.integers(1, 122, n_li)) * day_us)}),
        f"{out}/lineitem.parquet")

    t2024 = 19723 * day_us  # 2024-01-01
    ts = np.sort(rng.integers(0, 30 * day_us, n_ev)) + t2024
    _write(pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts_us(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")

    texts = [" ".join(TIER_WORDS[w] for w in rng.integers(0, len(TIER_WORDS), n))
             for n in rng.integers(10, 100, n_docs)]
    _write(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")

    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}),
        f"{out}/embeddings.parquet")


# --- the engine's minhash banding (Similarity.mhBandBuckets), in Python ---

def minhash_bands(text, hashes=32, bands=8):
    """Band buckets of `text`: 32 orderings of the tokens longer than three
    characters, each a 15-hex-digit window of the token's md5 read
    circularly; a band bucket is the top 60 bits of the md5 of its four
    minima, comma-joined."""
    toks = [t for t in text.lower().split(" ") if len(t) > 3]
    if not toks:
        return []
    mins = [None] * hashes
    for t in toks:
        h = hashlib.md5(t.encode()).hexdigest() * 2
        for i in range(hashes):
            v = int(h[i:i + 15], 16)
            if mins[i] is None or v < mins[i]:
                mins[i] = v
    rows = hashes // bands
    return [int(hashlib.md5(",".join(str(m) for m in mins[b * rows:(b + 1) * rows])
                            .encode()).hexdigest()[:15], 16) for b in range(bands)]


def token_set(text):
    return {t for t in text.lower().split(" ") if len(t) > 3}


def shingles(text):
    toks = [t for t in text.lower().split(" ") if t]
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


class _Corpus:
    """Builds documents one at a time and keeps the state needed to plant
    each verdict class exactly: the held-out shingle set, the band buckets
    of the near-dup election population, and the texts already used."""

    def __init__(self, rng):
        self.rng = rng
        syl = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
        words = set()
        while len(words) < 6000:
            words.add("".join(syl[i] for i in rng.integers(0, len(syl), 3)))
        self.vocab = sorted(words)
        self.bench = set()        # shingles of the held-out base docs
        self.bench_texts = []
        self.buckets = {}         # (band, bucket) -> lowest doc_id
        self.survivors = []       # (doc_id, text) in the near-dup population
        self.texts = set()

    def words(self, n):
        return [self.vocab[i] for i in self.rng.choice(len(self.vocab), n, replace=False)]

    def clean_text(self, extra=()):
        """A gate-passing text of fresh words with three stopwords, none of
        them adjacent, so no shingle is shared by chance."""
        while True:
            toks = self.words(int(self.rng.integers(26, 36)))
            for k, pos in enumerate(sorted(self.rng.choice(
                    range(1, len(toks) // 3), 3, replace=False) * 3)):
                toks.insert(pos + k, STOPS[int(self.rng.integers(0, len(STOPS)))])
            text = " ".join(list(extra) + toks)
            if text not in self.texts and (extra or not shingles(text) & self.bench):
                return text

    def collides(self, text):
        return any((b, v) in self.buckets for b, v in enumerate(minhash_bands(text)))

    def enter_election(self, doc_id, text):
        for b, v in enumerate(minhash_bands(text)):
            self.buckets.setdefault((b, v), doc_id)

    def survive(self, doc_id, text):
        self.enter_election(doc_id, text)
        self.survivors.append((doc_id, text))

    def near_dup_of(self, orig_id, orig):
        """A one-word edit of `orig` whose lowest band-sharing earlier doc is
        `orig` itself, so the election picks it and the verify passes."""
        toks = orig.split(" ")
        while True:
            pos = int(self.rng.integers(0, len(toks)))
            if len(toks[pos]) <= 3:
                continue
            cand = toks[:pos] + self.words(1) + toks[pos + 1:]
            text = " ".join(cand)
            keepers = {self.buckets.get((b, v)) for b, v in enumerate(minhash_bands(text))}
            keepers.discard(None)
            if (keepers and min(keepers) == orig_id and text not in self.texts
                    and not shingles(text) & self.bench):
                return text


def corpus_layout(n_warm, n_timed):
    """(increment docs, base docs): the engine splits a corpus at
    max - max // 5, so the increment is the top fifth of the ids."""
    inc = (n_warm + n_timed) * DOCS_PER_FILE
    return inc, 4 * inc - 4


def write_corpus(out, seed, n_warm, n_timed):
    """Writes corpus/documents.parquet (base and increment), stage/*.parquet
    (the increment, one file per delivery), files.tsv and planted.json."""
    rng = np.random.Generator(np.random.PCG64(seed))
    c = _Corpus(rng)
    _, base = corpus_layout(n_warm, n_timed)
    rows = []

    def add(doc_id, text, source, verdict=None):
        lang = LANGS[int(rng.choice(5, p=LANG_P))]
        rows.append((doc_id, text, lang, source, verdict))
        c.texts.add(text)

    for d in range(base):
        text = c.clean_text()
        if d % 10 == 0:
            add(d, text, "src0")
            c.bench |= shingles(text)
            c.bench_texts.append(text)
        else:
            add(d, text, f"src{1 + int(rng.integers(0, 19))}")
            c.survive(d, text)

    files, planted = [], {k: 0 for k in FILE_CLASSES}
    admitted_at = []  # (file index, doc_id, text) of admitted increment docs
    doc_id = base
    for f in range(n_warm + n_timed):
        for cls in [FILE_CLASSES[i] for i in rng.permutation(DOCS_PER_FILE)]:
            src = f"src{1 + int(rng.integers(0, 19))}"
            if cls == "held_out":
                text, src = c.clean_text(), "src0"
            elif cls == "gate":
                text = " ".join(c.words(int(rng.integers(26, 36))))
            elif cls == "exact_dup":
                text = c.survivors[int(rng.integers(0, len(c.survivors)))][1]
            elif cls == "contaminated":
                bt = c.bench_texts[int(rng.integers(0, len(c.bench_texts)))].split(" ")
                at = int(rng.integers(0, len(bt) - 2))
                text = c.clean_text(extra=bt[at:at + 3])
            elif cls == "near_dup":
                # alternate between base docs and docs of the warm files:
                # set-up admits each warm file in a trigger of its own, and
                # the first timed file gets a trigger of its own too, so
                # these land two or more triggers after their original
                older = [a for a in admitted_at if a[0] < n_warm < f]
                if older and planted["near_dup"] % 2 == 0:
                    orig = older[int(rng.integers(0, len(older)))]
                    admitted_at.remove(orig)
                    _, oid, otext = orig
                else:
                    oid, otext = c.survivors[int(rng.integers(0, base * 9 // 10))]
                text = c.near_dup_of(oid, otext)
                c.enter_election(doc_id, text)
            else:
                while True:
                    text = c.clean_text()
                    if not c.collides(text):
                        break
                c.survive(doc_id, text)
                admitted_at.append((f, doc_id, text))
            planted[cls] += 1
            add(doc_id, text, src, cls)
            doc_id += 1
        files.append((f"f{f:05d}.parquet", DOCS_PER_FILE, f < n_warm))

    def table(rs):
        return pa.table({
            "doc_id": pa.array([r[0] for r in rs], pa.int64()),
            "text": [r[1] for r in rs],
            "lang": [r[2] for r in rs],
            "source": [r[3] for r in rs],
            "n_chars": pa.array([len(r[1]) for r in rs], pa.int64())})

    os.makedirs(f"{out}/corpus", exist_ok=True)
    os.makedirs(f"{out}/stage", exist_ok=True)
    _write(table(rows), f"{out}/corpus/documents.parquet")
    for k, (name, n, _) in enumerate(files):
        _write(table(rows[base + k * n: base + (k + 1) * n]), f"{out}/stage/{name}")
    with open(f"{out}/files.tsv", "w") as fh:
        fh.writelines(f"{name}\t{n}\t{int(warm)}\n" for name, n, warm in files)
    with open(f"{out}/planted.json", "w") as fh:
        json.dump({"split": base, "counts": planted,
                   "verdicts": {str(r[0]): r[4] for r in rows[base:]}}, fh)
    return planted
