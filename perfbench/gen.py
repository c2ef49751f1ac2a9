"""Seeded input generator for the benchmark.

Two kinds of input, both in the repo's testdata layout (one parquet file per
table, schemas as in FIXTURES.md):

* `corpus(seed, docs, out)`: a word-count corpus with the `documents`
  schema. Text is lowercase a-z words joined by single spaces; words are
  drawn from a seed-generated vocabulary with Zipf-distributed ranks.
* `fixture(seed, out)`: all ten tables at the row counts of the sf0.01
  testdata, with the value domains FIXTURES.md lists.

The seed fully determines the output; both writers skip work when the
directory already holds a finished copy (a `DONE` marker with the stats).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["de", "en", "es", "fr", "zh"])
SOURCES = np.array([f"src{i}" for i in range(20)])
FIXTURE_WORDS = np.array("scan column window order sort part agg value line key join merge group query a "
                         "the row stream spark small fast batch hash filter big data table vector customer "
                         "slow".split())


def _done(out):
    path = os.path.join(out, "DONE")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def _finish(out, stats):
    with open(os.path.join(out, "DONE"), "w") as f:
        json.dump(stats, f)
    return stats


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, texts):
    n = len(texts)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "source": pa.array(SOURCES[rng.integers(0, len(SOURCES), n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _vocabulary(rng, size):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set()
    while len(words) < size:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(2, 11)))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


VOCAB = 20000
ZIPF_S = 1.1


def corpus(seed, docs, out):
    """Zipf word-count corpus; returns its stats (docs, tokens, vocabulary, bytes)."""
    stats = _done(out)
    if stats:
        return stats
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    words = _vocabulary(rng, VOCAB)
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    lengths = rng.integers(10, 101, docs)
    toks = rng.choice(VOCAB, size=int(lengths.sum()), p=p / p.sum())
    ends = np.cumsum(lengths)
    texts = [" ".join(words[toks[e - n:e]]) for e, n in zip(ends, lengths)]
    _write(out, "documents", _documents(rng, texts))
    return _finish(out, {"docs": docs, "tokens": int(lengths.sum()),
                         "vocabulary": int(len(np.unique(toks))),
                         "bytes": os.path.getsize(os.path.join(out, "documents.parquet"))})


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def fixture(seed, out):
    """All ten tables at the sf0.01 testdata's row counts; returns stats."""
    stats = _done(out)
    if stats:
        return stats
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part, n_ord, n_ev, n_users = 1500, 100, 2000, 15000, 10000, 150
    n_docs = n_emb = 500

    _write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                           "MACHINERY"])[rng.integers(0, 5, n_cust)])})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = np.array(["large", "small", "hot", "cold", "blue", "red", "old", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "nut", "screw", "pipe", "valve"])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                     "STANDARD"])[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                              "5-LOW"])[rng.integers(0, 5, n_ord)])})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_li))})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(["click", "error", "purchase", "signup",
                                         "view"])[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(40.0, n_ev).clip(0, 560), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 101, n_ev)]})
    # documents: the 30-word engine vocabulary; every 20th doc is a near
    # copy of an earlier one (one word replaced by "dup"), a few are exact
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(FIXTURE_WORDS[rng.integers(0, len(FIXTURE_WORDS), n)]) for n in lengths]
    for i in range(20, n_docs, 20):
        src = texts[int(rng.integers(0, i))].split(" ")
        if i % 500 != 0:
            src[int(rng.integers(0, len(src)))] = "dup"
        texts[i] = " ".join(src)
    _write(out, "documents", _documents(rng, texts))
    centers = rng.normal(0.0, 0.1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    emb = (centers[labels] + rng.normal(0.0, 0.07, (n_emb, 64))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    tokens = int(lengths.sum())
    return _finish(out, {"docs": n_docs, "tokens": tokens, "vocabulary": len(FIXTURE_WORDS) + 1,
                         "bytes": sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out)),
                         "lineitem_rows": n_li})
