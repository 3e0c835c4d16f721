"""Output checks for the benchmark's timed operations.

Each checker takes the run's operation records and returns, per record
index, None when the output is right or a one-line reason when it is
not. Registered queries are compared with their DuckDB oracle through
the repository's own `tools/check.py`; the rest is recomputed here
independently of the engine: BM25 in DuckDB, IVF hits by exact cosine
over the probed cells, and the lake by a latest-wins replay.
"""
import hashlib
import importlib.util
import json
import math
import os
import re
import shutil
import subprocess
import sys
from decimal import Decimal, ROUND_HALF_UP

import duckdb

QUERY_ID_BASE = 1000000000


def _tools_check(root):
    spec = importlib.util.spec_from_file_location(
        "graft_tools_check", os.path.join(root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _java_hash(s):
    """java.lang.String.hashCode: over UTF-16 code units, int32 overflow."""
    b = s.encode("utf-16-be")
    h = 0
    for i in range(0, len(b), 2):
        h = (31 * h + (b[i] << 8 | b[i + 1])) & 0xFFFFFFFF
    return h - (1 << 32) if h >= (1 << 31) else h


# ---- rag_qa ---------------------------------------------------------

def _embed(text):
    """The engine's hashing embedder: md5-prefix token hash, bucket
    h % 64, sign from bit 6, then L2 normalization (left folds, as the
    engine sums)."""
    w = [0.0] * 64
    for t in re.findall(r"[a-z0-9]+", text.lower()):
        h = int(hashlib.md5(t.encode()).hexdigest()[:10], 16)
        w[h % 64] += 1.0 if (h >> 6) & 1 else -1.0
    n2 = 0.0
    for x in w:
        n2 += x * x
    nrm = math.sqrt(n2)
    return [x / nrm for x in w] if nrm > 0 else w


def _dot(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += x * y
    return s


def _dist2(a, b):
    s = 0.0
    for x, y in zip(a, b):
        s += (x - y) * (x - y)
    return s


BM25_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) t FROM documents),
tf AS (SELECT doc_id, t, COUNT(*)::DOUBLE tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, COUNT(*)::DOUBLE dl FROM tok GROUP BY 1),
df AS (SELECT t, COUNT(DISTINCT doc_id)::DOUBLE df FROM tok GROUP BY 1),
stats AS (SELECT (SELECT COUNT(*)::DOUBLE FROM documents) n, (SELECT AVG(dl) FROM dl) avgdl)
SELECT qt.query_id, tf.doc_id,
  SUM(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1)
    * tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))) AS score
FROM qt JOIN tf ON qt.t = tf.t JOIN df ON tf.t = df.t
JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
GROUP BY 1, 2
"""


def check_rag(root, work, data, ops, top_k=3, nprobe=4):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT doc_id, text FROM "
                f"read_parquet('{work}/rag/chunks/documents.parquet/*.parquet')")
    text = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    qs = {q: (question, list(terms)) for q, question, terms in con.execute(
        f"SELECT qid, question, terms FROM '{data}/questions.parquet'").fetchall()}
    asked = sorted({o["out"]["qid"] for o in ops if o["ok"]})
    con.execute("CREATE TABLE qt (query_id BIGINT, t VARCHAR)")
    rows = [(QUERY_ID_BASE + q, t) for q in asked for t in qs[q][1]]
    if rows:
        con.executemany("INSERT INTO qt VALUES (?, ?)", rows)
    full = {}
    for qid, doc, score in con.execute(BM25_SQL).fetchall():
        full.setdefault(qid - QUERY_ID_BASE, {})[doc] = score
    cent = dict(con.execute(
        f"SELECT cid, cv FROM read_parquet('{work}/rag/ivf/centroids/*.parquet')").fetchall())
    vecs = con.execute(
        "SELECT vec_id, v, n2, cid FROM read_parquet("
        f"'{work}/rag/ivf/vectors/*/*.parquet', hive_partitioning = true)").fetchall()
    by_cid = {}
    for vid, v, n2, cid in vecs:
        by_cid.setdefault(int(cid), []).append((vid, v, n2))

    def lexical(q):
        scored = full.get(q, {})
        ranked = sorted(scored.items(), key=lambda kv: (-round(kv[1], 4), kv[0]))
        return ranked[:top_k], scored

    def dense(q):
        vq = _embed(qs[q][0])
        nq = _dot(vq, vq)
        probes = sorted(cent, key=lambda c: (_dist2(vq, cent[c]), c))[:nprobe]
        cands = []
        for c in probes:
            for vid, v, n2 in by_cid.get(c, []):
                cos = _dot(vq, v) / math.sqrt(nq * n2) if nq * n2 > 0 else float("nan")
                if not math.isnan(cos):
                    cands.append((vid, cos))
        cands.sort(key=lambda x: (-x[1], x[0]))
        return cands[:top_k], len(cands)

    verdicts = {}
    # useful work: candidates scored per returned hit
    stats = {"rag_qa.queries.bm25_rows_per_hit": [], "rag_qa.operators.ivf_cands_per_hit": []}
    for o in ops:
        if not o["ok"]:
            continue
        out = o["out"]
        q = out["qid"]
        hits = out["hits"]
        lex = [h for h in hits if h[0] == "lex"]
        den = [h for h in hits if h[0] == "dense"]
        why = None
        exp_lex, scored = lexical(q)
        exp_den, n_cands = dense(q)
        if exp_lex:
            stats["rag_qa.queries.bm25_rows_per_hit"].append(len(scored) / len(exp_lex))
        if exp_den:
            stats["rag_qa.operators.ivf_cands_per_hit"].append(n_cands / len(exp_den))
        if len(lex) != len(exp_lex):
            why = f"bm25: {len(lex)} hits, expected {len(exp_lex)}"
        else:
            for (_, rank, cid, score, _), (ecid, escore) in zip(lex, exp_lex):
                if abs(score - escore) > 2e-4 or abs(scored.get(cid, -1e9) - escore) > 2e-4:
                    why = f"bm25 rank {rank}: chunk {cid} score {score}, expected {ecid} {escore:.4f}"
                    break
        if why is None and [h[2] for h in den] != [e[0] for e in exp_den]:
            why = f"ivf: {[h[2] for h in den]} expected {[e[0] for e in exp_den]}"
        if why is None:
            for h, e in zip(den, exp_den):
                if abs(h[3] - e[1]) > 2e-4:
                    why = f"ivf cos {h[3]} expected {e[1]:.6f}"
                    break
        if why is None:
            for h in hits:
                if _java_hash(text[h[2]]) != h[4]:
                    why = f"context text of chunk {h[2]} differs"
                    break
        if why is None:
            ctx = []
            for h in hits:
                if text[h[2]] not in ctx:
                    ctx.append(text[h[2]])
            if len(" | ".join(ctx)) != out["context_chars"]:
                why = "stuffed context length differs"
        verdicts[o["i"]] = why
    return verdicts, stats


# ---- lake_upsert ----------------------------------------------------

def _money(x):
    return Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)


def check_lake(root, work, data, ops):
    con = duckdb.connect()
    base = con.execute(f"SELECT o_orderkey, o_totalprice, o_orderstatus FROM "
                       f"'{data}/orders.parquet'").fetchall()
    batches = {}
    for b, tomb, k, price, status in con.execute(
            f"SELECT batch, tomb, o_orderkey, o_totalprice, o_orderstatus FROM "
            f"'{data}/lake_batches.parquet'").fetchall():
        batches.setdefault(b, []).append((tomb, k, price, status))
    n_batches = len(batches)
    state = {k: (p, s) for k, p, s in base}
    applied = 0
    verdicts = {}
    for o in sorted(ops, key=lambda o: o["i"]):
        if not o["ok"]:
            continue
        out = o["out"]
        if o["kind"] != "read":
            verdicts[o["i"]] = None
            continue
        while applied < out["after_batch"]:
            for tomb, k, price, status in batches[applied % n_batches]:
                if tomb:
                    state.pop(k, None)
                else:
                    state[k] = (price, status)
            applied += 1
        exp = {}
        for k, (p, s) in state.items():
            n, rev, ks = exp.get(s, (0, Decimal(0), 0))
            exp[s] = (n + 1, rev + _money(p), ks + k)
        got = {g[0]: (g[1], float(g[2]), g[3]) for g in out["groups"]}
        want = {s: (n, float(rev), ks) for s, (n, rev, ks) in exp.items()}
        verdicts[o["i"]] = None if got == want else f"merged read {got} != replay {want}"
    return verdicts


# ---- registry queries (analytics_mix, corpus_pipeline) -------------

def check_registry(root, work, data, ops, outputs):
    """`outputs(op)` yields (query name, output dir) pairs of an op.
    The first output of each query name is checked against its oracle
    by tools/check.py; later outputs of the same name must equal it
    (same input, deterministic query) under check.py's canonical form."""
    tc = _tools_check(root)
    cdir = os.path.join(work, "check")
    shutil.rmtree(cdir, ignore_errors=True)
    os.makedirs(cdir)
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    first = {}
    for o in ops:
        if o["ok"]:
            for name, d in outputs(o):
                if name not in first:
                    first[name] = d
                    shutil.copytree(d, os.path.join(cdir, name))
    with open(os.path.join(cdir, "oracle_sql.json"), "w") as f:
        json.dump({n: oracle[n] for n in first}, f)
    res = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), data, cdir],
                         capture_output=True, text=True, timeout=120)
    passed = set(re.findall(r"^PASS (\S+)", res.stdout, re.M))
    failed = dict(re.findall(r"^FAIL (\S+): (.*)$", res.stdout, re.M))
    crash = (res.stderr.strip().splitlines() or [""])[-1]
    con = duckdb.connect()

    def canon(d):
        rel = con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')")
        return tc.canon(rel.fetchall(), [c.lower() for c in rel.columns])

    ref = {n: canon(d) for n, d in first.items() if n in passed}
    verdicts = {}
    for o in ops:
        if not o["ok"]:
            continue
        why = None
        for name, d in outputs(o):
            if name not in ref:
                why = f"{name}: oracle check failed: {failed.get(name, crash)[:300]}"
            elif d != first[name] and canon(d) != ref[name]:
                why = f"{name}: output differs from the oracle-checked run"
            if why:
                break
        verdicts[o["i"]] = why
    return verdicts


def check(workload, root, work, data, ops):
    """(verdict per op index, useful-work samples by metric name)."""
    if workload == "rag_qa":
        return check_rag(root, work, data, ops)
    if workload == "lake_upsert":
        return check_lake(root, work, data, ops), {}
    if workload == "analytics_mix":
        return check_registry(root, work, data, ops,
                              lambda o: [(o["out"]["name"], o["out"]["dir"])]), {}
    if workload == "corpus_pipeline":
        return check_registry(root, work, data, ops, lambda o: [
            ("pipeline_e2e", o["out"]["pipeline_e2e"]),
            ("dedup_clusters", o["out"]["dedup_clusters"])]), {}
    raise ValueError(workload)
