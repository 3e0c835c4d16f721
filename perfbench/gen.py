"""Seeded input generator for the benchmark.

Every table is a pure function of (workload, seed): the same seed writes
byte-identical parquet. Shapes and value domains follow the engine's
testdata tables (TPC-H-ish star schema, an events stream, a bag-of-words
documents corpus, 64-d embeddings), so every registered query runs on
them unchanged. Sizes are fixed per workload and only the content moves
with the seed, which keeps run-to-run cost comparable across seeds.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Vocabulary of the documents table (the testdata corpus draws from the
# same 30 words; "dup" marks a near-duplicate replica).
DOC_WORDS = ("spark window merge table column vector stream value data small "
             "join filter big group hash customer sort order slow line part "
             "fast row the agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# Per-workload sizes. `docs` is the documents table; the star schema
# scales with `sf` as the testdata sets do (sf0.1 = 150k orders).
SIZES = {
    "rag_qa": {"rag_docs": 300, "questions": 400},
    "corpus_pipeline": {"docs": 1000, "exact_dup": 0.04, "near_dup": 0.08},
    "lake_upsert": {"sf": 0.002, "batch_rows": 400, "batches": 400,
                    "hot_keys": 200, "hot_share": 0.5},
    "analytics_mix": {"sf": 0.005, "docs": 500},
}


def _docs_table(rng, n, exact_dup, near_dup):
    """Bag-of-words documents with a controlled share of exact and
    near-duplicate replicas (a replica copies an earlier original; a
    near replica appends one marker word, Jaccard >= 0.8 on 3-shingles)."""
    texts = []
    n_exact = int(round(n * exact_dup))
    n_near = int(round(n * near_dup))
    kinds = np.array([0] * (n - n_exact - n_near) + [1] * n_exact + [2] * n_near)
    rng.shuffle(kinds)
    # keep doc 0 an original so every replica has a source to copy
    if kinds[0] != 0:
        j = int(np.flatnonzero(kinds == 0)[0])
        kinds[0], kinds[j] = kinds[j], kinds[0]
    originals = []
    vocab = np.array(DOC_WORDS)
    for i in range(n):
        if kinds[i] == 0 or not originals:
            words = vocab[rng.integers(0, len(vocab), rng.integers(20, 101))]
            t = " ".join(words)
            originals.append(t)
        else:
            src = originals[int(rng.integers(0, len(originals)))]
            t = src if kinds[i] == 1 else src + " dup"
        texts.append(t)
    lang = rng.choice(LANGS, size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), {"docs": n, "exact_dup_share": n_exact / n, "near_dup_share": n_near / n,
         "bytes": int(sum(len(t) for t in texts))}


def _ts(days_from, days_span, rng, n, base="1995-01-01"):
    d = np.datetime64(base, "D") + days_from + rng.integers(0, days_span, n)
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _star(rng, out, sf, n_docs):
    n_ord = max(100, int(1500000 * sf))
    n_cust = max(50, int(150000 * sf))
    n_part = max(50, int(200000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_ev = max(200, int(1000000 * sf))
    pq.write_table(pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           f"{out}/region.parquet")
    pq.write_table(pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
           f"{out}/nation.parquet")
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "FURNITURE", "BUILDING"], n_cust).tolist()}),
        f"{out}/customer.parquet")
    pq.write_table(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    colors = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
    nouns = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
    pq.write_table(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                              "PROMO"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out}/part.parquet")
    orders = _orders(rng, n_ord, n_cust)
    pq.write_table(orders, f"{out}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    lk = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(lk)
    status = rng.choice(["O", "F"], n_li)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(lk),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(ln),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_li).tolist(),
        "l_linestatus": status.tolist(),
        "l_shipdate": _ts(1, 2498, rng, n_li)}),
        f"{out}/lineitem.parquet")
    ev_ts = np.sort(np.datetime64("2024-01-01T00:00:00", "us")
                    + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(20, n_ev // 66), n_ev).astype(np.int64)),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"],
                                 n_ev).tolist(),
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    n_emb = max(100, int(20000 * sf))
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))}),
        f"{out}/embeddings.parquet")
    docs, info = _docs_table(rng, n_docs, 0.002, 0.05)
    pq.write_table(docs, f"{out}/documents.parquet")
    return {"orders": n_ord, "lineitem": n_li, "events": n_ev, "documents": n_docs,
            "bytes": int(sum(os.path.getsize(f"{out}/{f}") for f in os.listdir(out)))}


def _orders(rng, n, n_cust):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
        "o_orderstatus": rng.choice(["O", "P", "F"], n).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _ts(0, 2404, rng, n),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n).tolist()})


def _rag(rng, out, cfg):
    """A retrieval corpus of long documents over a Zipf vocabulary, and
    the client's question script: each question is a span of a corpus
    document, some carry off-corpus terms, and each is condensed with up
    to 3 of the rarest new terms of the last 2 turns (the reference's
    history-aware condensation)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = []
    seen = set()
    while len(vocab) < 3000:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(3, 9)))])
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    vocab = np.array(vocab)
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    p /= p.sum()
    n = cfg["rag_docs"]
    docs = []
    for _ in range(n):
        paras = []
        for _ in range(int(rng.integers(2, 6))):
            paras.append(" ".join(vocab[rng.choice(len(vocab), int(rng.integers(30, 90)), p=p)]))
        docs.append("\n\n".join(paras))
    tbl = pa.table({"doc_id": pa.array(np.arange(n, dtype=np.int64)),
                    "text": pa.array(docs)})
    pq.write_table(tbl, f"{out}/rag_docs.parquet")
    df = {}
    for t in docs:
        for w in set(t.split()):
            df[w] = df.get(w, 0) + 1
    qs, hist = [], []
    for qi in range(cfg["questions"]):
        words = docs[int(rng.integers(0, n))].split()
        k = int(rng.integers(4, 9))
        start = int(rng.integers(0, len(words) - k))
        q = list(words[start:start + k])
        if rng.random() < 0.3:  # off-corpus terms: lexical misses
            q += ["zz" + "".join(letters[rng.integers(0, 26, 5)])
                  for _ in range(int(rng.integers(1, 3)))]
        qset = set(q)
        new = sorted({w for h in hist[-2:] for w in h} - qset,
                     key=lambda w: (df.get(w, 0) == 0, df.get(w, 0), w))
        picked = [w for w in new if df.get(w, 0) > 0][:3]
        qs.append({"qid": qi, "question": " ".join(q),
                   "terms": sorted(qset | set(picked))})
        hist.append(q)
    pq.write_table(pa.table({"qid": pa.array([q["qid"] for q in qs], type=pa.int64()),
                     "question": [q["question"] for q in qs],
                     "terms": pa.array([q["terms"] for q in qs],
                                       type=pa.list_(pa.string()))}),
           f"{out}/questions.parquet")
    return {"docs": n, "bytes": int(sum(len(t) for t in docs)),
            "questions": len(qs), "vocab": len(vocab)}


def _lake(rng, out, cfg):
    """The keyed upsert script over an orders-shaped base: each batch
    draws keys with a hot-key skew (hot_share of rows from hot_keys
    keys) and carries new prices/statuses; every 10th batch is a
    tombstone batch."""
    info = _star(rng, out, cfg["sf"], 200)
    n_ord = info["orders"]
    hot = rng.choice(n_ord, cfg["hot_keys"], replace=False)
    keys, price, status, kind = [], [], [], []
    for b in range(cfg["batches"]):
        m = cfg["batch_rows"]
        n_hot = int(m * cfg["hot_share"])
        ks = np.concatenate([rng.choice(hot, n_hot),
                             rng.integers(0, n_ord, m - n_hot)])
        ks = np.unique(ks)  # keys unique per batch (MERGE semantics)
        keys.append(ks)
        price.append(np.round(rng.uniform(1000.0, 500000.0, len(ks)), 2))
        status.append(rng.choice(["O", "P", "F"], len(ks)))
        kind.append(np.full(len(ks), 1 if b % 10 == 9 else 0, dtype=np.int32))
    batch = np.concatenate([np.full(len(k), i, dtype=np.int32) for i, k in enumerate(keys)])
    pq.write_table(pa.table({"batch": pa.array(batch),
                     "tomb": pa.array(np.concatenate(kind)),
                     "o_orderkey": pa.array(np.concatenate(keys).astype(np.int64)),
                     "o_totalprice": np.concatenate(price),
                     "o_orderstatus": np.concatenate(status).tolist()}),
           f"{out}/lake_batches.parquet")
    top = np.unique(np.concatenate(keys), return_counts=True)[1]
    info.update({"batches": cfg["batches"], "batch_rows": cfg["batch_rows"],
                 "key_skew_max_over_mean": float(top.max() / top.mean())})
    return info


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    cfg = SIZES[workload]
    if workload == "rag_qa":
        info = _rag(rng, out, cfg)
    elif workload == "corpus_pipeline":
        # the pipeline reads only `documents`; the oracle checker expects
        # every table of the schema, so the rest is written tiny
        _star(rng, out, 0.0001, 10)
        docs, info = _docs_table(rng, cfg["docs"], cfg["exact_dup"], cfg["near_dup"])
        pq.write_table(docs, f"{out}/documents.parquet")
    elif workload == "lake_upsert":
        info = _lake(rng, out, cfg)
    else:
        info = _star(rng, out, cfg["sf"], cfg["docs"])
    info["seed"] = seed
    with open(f"{out}/inputs.json", "w") as f:
        json.dump(info, f, sort_keys=True)
    return info
