#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

Writes fixture-layout parquet (`<out_dir>/<table>.parquet`, the same column
names and types as the TPC-H-ish test fixtures; index_ingest adds one file
per micro-batch under `<out_dir>/stream/`); the program under test sees only
these files. Sizes and shares come from
`perfbench/spec.json` ("inputs"), so the same seed always gives the same
bytes.
"""
import json
import os
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
# Common words and rare tokens (names, in CJK ideographs) are spelled from
# disjoint characters, so every character trigram of a common word is
# common and any trigram touching a rare token is rare: near-duplicate
# candidates come from the rare shingles two documents share (the
# inverted-index path), not from chance overlaps.
COMMON_SYLLABLES = [c + v for c in "bcdfghjklm" for v in "aei"]
RARE_CHARS = np.array([chr(0x4E00 + i) for i in range(3000)])
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
EPOCH_1995 = int(datetime(1995, 1, 1).timestamp()) * 1_000_000
DAY_US = 86_400 * 1_000_000


def spec_inputs():
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)["inputs"]


def write(table, out_dir, name):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- catalog

def gen_catalog(rng, p, out_dir):
    """TPC-H-ish 7-table catalog at scale factor p["sf"] (fixture schema)."""
    sf = p["sf"]
    n_cust, n_supp, n_part, n_ord = (int(x * sf) for x in (150_000, 10_000, 200_000, 1_500_000))
    write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), out_dir, "region")
    write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), out_dir, "nation")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }), out_dir, "customer")
    write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), out_dir, "supplier")
    adj = np.array(["large", "hot", "blue", "small", "red", "cold", "green", "tiny"])
    noun = np.array(["ring", "bolt", "nut", "pipe", "gear", "wire", "lamp", "tube"])
    ptype = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"])
    write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 20_000) * 0.1, 2),
    }), out_dir, "part")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odate = EPOCH_1995 + rng.integers(0, 2400, n_ord) * DAY_US
    write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 450_000.0, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    }), out_dir, "orders")
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = np.arange(n_li) - starts + 1
    # Hostile physical order: lineitem rows are shuffled, so nothing may
    # rely on children arriving sorted by their parent key.
    perm = rng.permutation(n_li)
    write(pa.table({
        "l_orderkey": pa.array(okey[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(odate[okey[perm]] + rng.integers(1, 122, n_li) * DAY_US,
                               pa.timestamp("us")),
    }), out_dir, "lineitem")
    return {"rows": n_cust + n_supp + n_part + n_ord + n_li + 30, "lineitem": n_li}


# ---------------------------------------------------------------- documents

class TextModel:
    """A flat vocabulary of common words, like the fixture's documents (whose
    few dozen words are near-uniform), with a `rare_share` of tokens drawn
    as random rare strings; document lengths follow the fixture's (sf0.1:
    44-577 characters, close to uniform)."""

    def __init__(self, rng, vocab, rare_share):
        self.rng = rng
        self.rare_share = rare_share
        syl = np.array(COMMON_SYLLABLES)
        words = set()
        while len(words) < vocab:
            k = int(rng.integers(2, 5))
            words.add("".join(syl[rng.integers(0, len(syl), k)]))
        self.words = sorted(words)

    def doc(self):
        target = int(self.rng.integers(44, 578))
        toks = self.rng.integers(0, len(self.words), target // 3)
        out, n = [], -1
        for t in toks:
            w = self.word(t)
            if n + 1 + len(w) > target and out:
                break
            out.append(w)
            n += 1 + len(w)
        return " ".join(out)

    def word(self, i):
        if self.rng.random() < self.rare_share:
            return "".join(self.rng.choice(RARE_CHARS, int(self.rng.integers(2, 5))))
        return self.words[i]

    def low_quality(self):
        """A document the quality filter must drop: one token repeated."""
        return " ".join([self.words[int(self.rng.integers(0, 50))]] * int(self.rng.integers(25, 60)))

    def edit(self, text, rate):
        """Near-duplicate: each token is substituted, dropped or followed by
        an inserted token with total probability `rate`."""
        out = []
        for w in text.split(" "):
            r = self.rng.random()
            if r < rate / 3:
                out.append(self.word(int(self.rng.integers(0, len(self.words)))))
            elif r < 2 * rate / 3:
                continue
            elif r < rate:
                out += [w, self.word(int(self.rng.integers(0, len(self.words))))]
            else:
                out.append(w)
        return " ".join(out) if out else text


def gen_docs(rng, model, first_id, n, history, p):
    """n documents with ids first_id.. ; a `hot_class_share` of them are
    copies of one hot text (the first original), a `near_dup_share` edited
    copies and an `exact_copy_share` verbatim copies of `history` (earlier
    original documents, each new original appended to it, so apart from
    the hot class a duplicate family holds a few documents)."""
    ids, texts = [], []
    hot = p.get("hot_class_share", 0.0)
    for i in range(n):
        r = rng.random()
        if history and r < hot:
            t = history[0]
        elif history and r < hot + p["exact_copy_share"]:
            t = history[int(rng.integers(0, len(history)))]
        elif history and r < hot + p["exact_copy_share"] + p["near_dup_share"]:
            t = model.edit(history[int(rng.integers(0, len(history)))], p["edit_rate"])
        elif r > 1.0 - p.get("low_quality_share", 0.0):
            t = model.low_quality()
        else:
            t = model.doc()
            history.append(t)
        ids.append(first_id + i)
        texts.append(t)
    return ids, texts


def docs_table(rng, ids, texts):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_corpus(rng, p, out_dir):
    model = TextModel(rng, p["vocab"], p["rare_share"])
    history = []
    ids, texts = gen_docs(rng, model, 0, p["docs"], history, p)
    write(docs_table(rng, ids, texts), out_dir, "documents")
    return {"rows": len(ids)}


def gen_stream(rng, p, out_dir):
    """Initial corpus (documents.parquet), one parquet file per micro-batch
    under stream/ with strictly increasing modification times (the file
    source's arrival order), a probe batch and BM25 queries."""
    model = TextModel(rng, p["vocab"], p["rare_share"])
    history = []
    ids, texts = gen_docs(rng, model, 0, p["initial_docs"], history, p)
    write(docs_table(rng, ids, texts), out_dir, "documents")
    stream = os.path.join(out_dir, "stream")
    os.makedirs(stream)
    next_id = len(ids)
    for b in range(p["batches"]):
        ids, texts = gen_docs(rng, model, next_id, p["batch_docs"], history, p)
        next_id += len(ids)
        path = os.path.join(stream, f"batch-{b:05d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), path)
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    probe_hist = history[: p["initial_docs"] + p["batch_docs"] * 4]
    pids, ptexts = gen_docs(rng, model, 10_000_000, p["probe_docs"], probe_hist,
                            {**p, "near_dup_share": 0.5, "low_quality_share": 0.0})
    write(pa.table({"doc_id": pa.array(pids, pa.int64()), "text": ptexts}), out_dir, "probe_docs")
    q = [" ".join(model.words[int(i)] for i in rng.integers(0, len(model.words), int(rng.integers(1, 5))))
         for _ in range(p["queries"])]
    write(pa.table({"query_id": pa.array(np.arange(1, len(q) + 1), pa.int64()), "q_text": q}),
          out_dir, "queries")
    return {"rows": p["initial_docs"] + p["batches"] * p["batch_docs"]}


GENERATORS = {"anon_copy": gen_catalog, "index_ingest": gen_stream, "corpus_dedup": gen_corpus}


def generate(workload, seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    return GENERATORS[workload](rng, spec_inputs()[workload], out_dir)


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{'|'.join(GENERATORS)}}} <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
