"""Seeded input generators for the benchmark.

Two kinds of input, both written under the build directory and cached by
their parameters:

* ``tables(scale, seed)``: the ten parquet tables every registered query
  reads (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the schemas and value distributions of the
  engine's TPC-H-like test corpus. Row counts scale with ``scale`` the same
  way (lineitem = 6,000,000 x scale).
* ``corpus(seed, mb)``: a plain-text corpus for the word-count workload,
  drawn from a fixed Zipf-like vocabulary with punctuation and non-ASCII
  letters (the seed draws the text, not the vocabulary, so the token count
  per MB and the key skew do not change with the seed),
  plus the exact expected word counts under the engine's tokenizer (strip
  ``(?U)[^\\w\\s]``, split on ``(?U)\\s+``). The counts come from the draw
  itself, not from re-tokenizing the text.

Every generated directory carries a ``MANIFEST.json`` with the sha256 of
each file; a cache hit re-hashes the files against it, so a corrupted or
half-written input is regenerated rather than trusted.
"""
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def _sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _cached(out_dir, params, write):
    """Return ``out_dir`` holding the output of ``write(tmp_dir)`` for
    ``params``; reuse it when its manifest matches and every file hashes to
    the recorded digest."""
    manifest = os.path.join(out_dir, "MANIFEST.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if m.get("params") == params and all(
                os.path.exists(os.path.join(out_dir, n)) and
                _sha256(os.path.join(out_dir, n)) == d
                for n, d in m["files"].items()):
            return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    files = {n: _sha256(os.path.join(tmp, n)) for n in sorted(os.listdir(tmp))}
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump({"params": params, "files": files}, f, indent=1)
    os.rename(tmp, out_dir)
    return out_dir


# ---------------------------------------------------------------- tables

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_DOC_WORDS = ["a", "the", "agg", "batch", "big", "column", "customer",
              "data", "fast", "filter", "group", "hash", "join", "key",
              "line", "merge", "order", "part", "query", "row", "scan",
              "slow", "small", "sort", "spark", "stream", "table", "value",
              "vector", "window"]


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write_tables(out, scale, seed):
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_li = max(6_000, int(6_000_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)], s)})
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})
    names = np.array([f"{a} {n}" for a in _ADJ for n in _NOUN])
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(np.array(_PTYPES)[rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1), f64)})
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)], s)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2), f64),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_li), 2), f64),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_li), 2), f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], s),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)], s),
        "l_shipdate": pa.array(_days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
                               pa.timestamp("us"))})
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    put("events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)], s),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    # 5% of the documents are near-duplicates: a copy of another document
    # with " dup" appended, which the dedup/LSH lanes must find.
    words = np.array(_DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(n))])
             for n in rng.integers(8, 95, n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, 5, n_docs)], s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    emb = rng.standard_normal((n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


def tables(root, scale, seed):
    """Directory of the ten tables at ``scale`` drawn from ``seed``."""
    params = {"kind": "tables", "scale": scale, "seed": seed, "v": 1}
    return _cached(os.path.join(root, f"tables-sf{scale}-s{seed}"), params,
                   lambda d: _write_tables(d, scale, seed))


# ---------------------------------------------------------------- corpus

_ASCII = "abcdefghijklmnopqrstuvwxyz"
_ACCENTED = "éèàüöäßñçåøô"
# Each is neither \w nor \s under (?U), so the tokenizer strips it.
_PUNCT = [",", ".", ";", ":", "!", "?", "\"", "(", ")", "'", "’",
          "“", "”", "…", "*"]


def _vocabulary(rng, n):
    """``n`` distinct lowercase/Capitalised words, ~6% with a non-ASCII
    letter."""
    out, seen = [], set()
    while len(out) < n:
        k = int(rng.integers(2, 10))
        w = "".join(_ASCII[j] for j in rng.integers(0, 26, k))
        if rng.random() < 0.06:
            p = int(rng.integers(0, k))
            w = w[:p] + _ACCENTED[int(rng.integers(0, len(_ACCENTED)))] + w[p + 1:]
        if rng.random() < 0.1:
            w = w.capitalize()
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


VOCAB_SEED = 0


def _write_corpus(out, seed, mb, vocab_size=50_000):
    vocab = _vocabulary(np.random.default_rng(VOCAB_SEED), vocab_size)
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, vocab_size + 1) ** 1.05
    weights /= weights.sum()
    counts = np.zeros(vocab_size, dtype=np.int64)
    target = int(mb * 1_000_000)
    written = 0
    with open(os.path.join(out, "corpus.txt"), "w", encoding="utf-8") as f:
        while written < target:
            n = 200_000
            idx = rng.choice(vocab_size, n, p=weights)
            counts += np.bincount(idx, minlength=vocab_size)
            toks = [vocab[i] for i in idx]
            # punctuation glued to the word edges, stripped by the tokenizer
            for j in np.flatnonzero(rng.random(n) < 0.08):
                toks[j] += _PUNCT[int(rng.integers(0, len(_PUNCT)))]
            for j in np.flatnonzero(rng.random(n) < 0.03):
                toks[j] = _PUNCT[int(rng.integers(0, len(_PUNCT)))] + toks[j]
            # free-standing dashes become empty tokens and are dropped
            for j in np.flatnonzero(rng.random(n) < 0.01):
                toks[j] += " —"
            lines = []
            for a, b in zip(range(0, n, 12), range(12, n + 12, 12)):
                sep = "\t" if rng.random() < 0.05 else " "
                lines.append(sep.join(toks[a:b]))
            chunk = "\n".join(lines) + "\n"
            f.write(chunk)
            written += len(chunk.encode("utf-8"))
    with open(os.path.join(out, "expected.tsv"), "w", encoding="utf-8") as f:
        for i in np.flatnonzero(counts):
            f.write(f"{vocab[i]}\t{counts[i]}\n")


def corpus(root, seed, mb):
    """Directory holding ``corpus.txt`` (about ``mb`` MB) and
    ``expected.tsv`` (word, exact count) drawn from ``seed``."""
    params = {"kind": "corpus", "seed": seed, "mb": mb, "v": 2}
    return _cached(os.path.join(root, f"corpus-{mb}mb-s{seed}"), params,
                   lambda d: _write_corpus(d, seed, mb))
