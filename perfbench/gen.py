"""Seeded input generator for the perfbench workloads.

The engine only ever sees the parquet files written here. Every input is a
pure function of (workload, seed, size), and is cached on disk under that key,
so two runs with the same seed read byte-identical inputs.

Planted structure (written to ``planted.json`` next to the parquet files and
echoed into the run's output):

* ``tabular_learn``: a star (orders -> lineitem, orders -> customer) with a
  hot-customer share (join skew on the customer key), an all-distinct
  customer name (routes to the minhash high-cardinality encoder) and a
  free-text order comment (StringEncoder input).
* ``curate_corpus``: near-duplicate clusters, a boilerplate share (hot
  shingles) and a contaminated share (docs that quote a benchmark passage
  verbatim). Near-duplicate copies replace one token in every eight, so no
  copy keeps an 8-gram of its original: decontamination at n = 8 can only
  match the planted contaminated docs.
* ``index_serve``: a base corpus plus a fixed request sequence of query
  batches and ingest batches; ingest batches carry planted near-duplicates
  of base docs.
"""

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 6000
N_SOURCES = 8
EMB_DIM = 32
COPY_STRIDE = 8          # one token in every COPY_STRIDE is replaced in a copy
BOILERPLATE = 3          # distinct boilerplate footers
CONTAM_SPAN = 24         # tokens quoted verbatim from a benchmark passage

# Input sizes and shares. Where a value stands for a property of the
# engine's own registry fixtures, the comment names it; the rest are stated
# assumptions about the workload, not measured traffic.
SIZES = {
    # the registry's sf0.001 TPC-H star (its smallest hash-verified scale):
    # 1.5k orders, 4 lineitems per order on average, 150 customers (10
    # orders per customer); a quarter of the orders on 4 hot customers is
    # the assumed join skew; a quarter of the orders is held out
    "tabular_learn": {"orders": 1500, "lines_per_order": 4,
                      "customers": 150, "hot_customers": 4,
                      "hot_share": 0.25, "test_share": 0.25},
    # the registry's sf0.1 `documents` table, which `q_pipeline_full` runs
    # on: 5,000 docs. Shares of planted near-duplicate cluster seeds,
    # boilerplate and contaminated docs are assumptions of a crawl.
    "curate_corpus": {"docs": 5000, "dup_share": 0.08, "copies_max": 3,
                      "boilerplate_share": 0.10, "contam_share": 0.03,
                      "bench_docs": 40},
    # the registry's sf0.01 `documents` table, 500 docs, as the standing
    # index's base; a fixed sequence of 9 requests, two query batches per
    # ingest batch (an assumed read-heavy mix); a query batch is 8 queries,
    # an ingest batch 40 docs (3 ingests grow the base by about a quarter)
    # of which a quarter are planted near-duplicates
    "index_serve": {"docs": 500, "query_batch": 8, "ingest_batch": 40,
                    "ingest_dup_share": 0.25, "queries_per_ingest": 2,
                    "requests": 9},
}


def _rng(workload, seed):
    tag = sum(ord(c) * (i + 1) for i, c in enumerate(workload))
    return np.random.default_rng([int(seed), tag])


def _words(rng):
    """VOCAB distinct lowercase pseudo-words, stable for a given rng."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < VOCAB:
        n = int(rng.integers(3, 10))
        w = "".join(rng.choice(letters, n))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out)


class TextModel:
    """Mildly Zipfian unigram text with a per-source topical boost, so the
    sources differ (the recipe's classifier has signal) and the corpus
    passes the quality and repetition gates."""

    def __init__(self, rng):
        self.words = _words(rng)
        base = 1.0 / (np.arange(VOCAB) + 30.0) ** 0.9
        self.probs = []
        for s in range(N_SOURCES):
            p = base.copy()
            topic = rng.choice(VOCAB, 300, replace=False)
            p[topic] *= 6.0
            self.probs.append(p / p.sum())

    def tokens(self, rng, source, n):
        return list(rng.choice(VOCAB, n, p=self.probs[source]))

    def text(self, toks):
        return " ".join(self.words[toks])


def _near_copy(rng, toks):
    """Replace one token in every COPY_STRIDE (random phase): every 8-gram of
    the original is broken, about 60% of its 3-shingles survive."""
    out = list(toks)
    phase = int(rng.integers(0, COPY_STRIDE))
    for i in range(phase, len(out), COPY_STRIDE):
        out[i] = int(rng.integers(0, VOCAB))
    return out


def _embeddings(rng, sources, centroids, noise):
    v = centroids[sources] + rng.normal(0.0, noise, (len(sources), EMB_DIM))
    return v.astype(np.float32)


def _write(path, cols):
    arrays, names = [], []
    for name, (values, typ) in cols.items():
        names.append(name)
        arrays.append(pa.array(values, type=typ))
    pq.write_table(pa.Table.from_arrays(arrays, names=names), path)


def _emb_list(mat):
    return [row.tolist() for row in mat]


def gen_tabular(rng, out, sz):
    n_o, n_c = sz["orders"], sz["customers"]
    cust = np.arange(1, n_c + 1, dtype=np.int64)
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                    "MACHINERY"])
    c_seg = rng.integers(0, len(seg), n_c)
    c_nation = rng.integers(0, 25, n_c).astype(np.int32)
    c_acct = np.round(rng.normal(4500.0, 3000.0, n_c), 2)
    suffix = rng.integers(0, 1 << 30, n_c)
    c_name = [f"Customer#{k:09d}-{s:08x}" for k, s in zip(cust, suffix)]
    _write(os.path.join(out, "customer.parquet"), {
        "c_custkey": (cust, pa.int64()), "c_name": (c_name, pa.string()),
        "c_nationkey": (c_nation, pa.int32()), "c_acctbal": (c_acct, pa.float64()),
        "c_mktsegment": (seg[c_seg].tolist(), pa.string())})

    hot = rng.choice(n_c, sz["hot_customers"], replace=False)
    is_hot = rng.random(n_o) < sz["hot_share"]
    o_cust_idx = np.where(is_hot, hot[rng.integers(0, len(hot), n_o)],
                          rng.integers(0, n_c, n_o))
    o_key = np.arange(1, n_o + 1, dtype=np.int64)
    status = np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])[rng.integers(0, 5, n_o)]
    clerk_idx = rng.integers(0, 1000, n_o)
    clerk = [f"Clerk#{c:09d}" for c in clerk_idx]
    base_us = 694224000 * 1_000_000  # 1992-01-01
    o_date = base_us + rng.integers(0, 6 * 365, n_o) * 86_400_000_000
    tm = TextModel(rng)
    comment = [tm.text(tm.tokens(rng, int(s), int(n)))
               for s, n in zip(rng.integers(0, N_SOURCES, n_o),
                               rng.integers(6, 14, n_o))]

    n_l = sz["lines_per_order"]
    lines = rng.integers(1, 2 * n_l, n_o)
    l_order = np.repeat(o_key, lines)
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)
    disc = np.round(rng.integers(0, 11, n_li) / 100.0, 2)
    mode = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP",
                     "TRUCK"])[rng.integers(0, 7, n_li)]
    _write(os.path.join(out, "lineitem.parquet"), {
        "l_orderkey": (l_order, pa.int64()), "l_quantity": (qty, pa.float64()),
        "l_extendedprice": (price, pa.float64()),
        "l_discount": (disc, pa.float64()),
        "l_shipmode": (mode.tolist(), pa.string())})

    # regression target: a noisy function of the joined features
    qsum = np.bincount(np.searchsorted(o_key, l_order), weights=qty,
                       minlength=n_o)
    clerk_eff = rng.normal(0.0, 20.0, 1000)
    y = (qsum * 2.0 + c_seg[o_cust_idx] * 15.0 + clerk_eff[clerk_idx]
         + (prio == "1-URGENT") * 25.0 + rng.normal(0.0, 10.0, n_o))
    test = rng.random(n_o) < sz["test_share"]
    for name, mask in (("orders_train", ~test), ("orders_test", test)):
        _write(os.path.join(out, name + ".parquet"), {
            "o_orderkey": (o_key[mask], pa.int64()),
            "o_custkey": (cust[o_cust_idx][mask], pa.int64()),
            "o_orderstatus": (status[mask].tolist(), pa.string()),
            "o_orderpriority": (prio[mask].tolist(), pa.string()),
            "o_clerk": ([c for c, m in zip(clerk, mask) if m], pa.string()),
            "o_orderdate": (o_date[mask], pa.timestamp("us")),
            "o_comment": ([c for c, m in zip(comment, mask) if m], pa.string()),
            "y": (np.round(y[mask], 4), pa.float64())})
    return {"orders": n_o, "train_rows": int((~test).sum()),
            "test_rows": int(test.sum()), "lineitems": n_li,
            "customers": n_c, "hot_customer_share": sz["hot_share"],
            "hot_customers": sz["hot_customers"],
            "planted_hot_rows": int(is_hot.sum())}


def _corpus(rng, tm, n, sz, first_id=0):
    """n docs with planted near-dup clusters and boilerplate; returns lists
    (ids, texts, sources, token lists, planted dup pairs)."""
    n_seed = n
    toks, srcs = [], []
    while len(toks) < n_seed:
        s = int(rng.integers(0, N_SOURCES))
        toks.append(tm.tokens(rng, s, int(rng.integers(60, 180))))
        srcs.append(s)
    ids = list(range(first_id, first_id + n))
    pairs = []
    # near-duplicate clusters: overwrite later slots with copies of a seed
    n_dup = int(n * sz["dup_share"])
    slots = rng.permutation(n)
    seeds, copies = slots[:n_dup], slots[n_dup:]
    ci = 0
    for s in seeds:
        for _ in range(int(rng.integers(1, sz["copies_max"] + 1))):
            if ci >= len(copies):
                break
            c = int(copies[ci]); ci += 1
            toks[c] = _near_copy(rng, toks[int(s)])
            srcs[c] = srcs[int(s)]
            pairs.append((ids[int(s)], ids[c]))
    copied = {c for _, c in pairs} | {s for s, _ in pairs}
    plates = [tm.tokens(rng, 0, 25) for _ in range(BOILERPLATE)]
    free = [i for i in slots[ci + n_dup:] if ids[int(i)] not in copied]
    n_bp = int(n * sz.get("boilerplate_share", 0.0))
    boiler = [int(i) for i in free[:n_bp]]
    for i in boiler:
        toks[i] = toks[i] + plates[int(rng.integers(0, BOILERPLATE))]
    return ids, toks, srcs, pairs, boiler, free[n_bp:]


def gen_curate(rng, out, sz):
    tm = TextModel(rng)
    n = sz["docs"]
    ids, toks, srcs, pairs, boiler, free = _corpus(rng, tm, n, sz)
    bench = [tm.tokens(rng, int(rng.integers(0, N_SOURCES)), 60)
             for _ in range(sz["bench_docs"])]
    n_con = int(n * sz["contam_share"])
    contaminated = [int(i) for i in free[:n_con]]
    for i in contaminated:
        b = bench[int(rng.integers(0, len(bench)))]
        at = int(rng.integers(0, len(b) - CONTAM_SPAN))
        cut = int(rng.integers(10, len(toks[i]) - 10))
        toks[i] = toks[i][:cut] + b[at:at + CONTAM_SPAN] + toks[i][cut:]
    centroids = rng.normal(0.0, 1.0, (N_SOURCES, EMB_DIM))
    emb = _embeddings(rng, np.array(srcs), centroids, 1.0)
    for a, c in pairs:
        emb[c] = emb[a] + rng.normal(0.0, 0.05, EMB_DIM)
    texts = [tm.text(t) for t in toks]
    _write(os.path.join(out, "docs.parquet"), {
        "doc_id": (ids, pa.int64()), "text": (texts, pa.string()),
        "source": ([f"src{s}" for s in srcs], pa.string()),
        "embedding": (_emb_list(emb), pa.list_(pa.float32()))})
    _write(os.path.join(out, "bench.parquet"), {
        "doc_id": (list(range(10_000_000, 10_000_000 + len(bench))), pa.int64()),
        "text": ([tm.text(b) for b in bench], pa.string()),
        "source": (["bench"] * len(bench), pa.string())})
    return {"docs": n, "bench_docs": len(bench),
            "planted_dup_pairs": [list(p) for p in pairs],
            "planted_contaminated": contaminated,
            "planted_boilerplate": len(boiler),
            "dup_cluster_share": sz["dup_share"],
            "boilerplate_share": sz["boilerplate_share"],
            "contaminated_share": sz["contam_share"]}


def gen_serve(rng, out, sz):
    n_requests = sz["requests"]
    tm = TextModel(rng)
    n = sz["docs"]
    ids, toks, srcs, pairs, _, _ = _corpus(
        rng, tm, n, dict(sz, dup_share=0.0, copies_max=1))
    centroids = rng.normal(0.0, 1.0, (N_SOURCES, EMB_DIM))
    emb = _embeddings(rng, np.array(srcs), centroids, 1.0)
    _write(os.path.join(out, "base.parquet"), {
        "doc_id": (ids, pa.int64()),
        "text": ([tm.text(t) for t in toks], pa.string()),
        "embedding": (_emb_list(emb), pa.list_(pa.float32()))})

    per = sz["queries_per_ingest"] + 1
    kinds = ["ingest" if (i % per) == per - 1 else "query"
             for i in range(n_requests)]
    q_ids, q_text, q_emb, q_req = [], [], [], []
    i_ids, i_text, i_emb, i_req = [], [], [], []
    next_id, next_q, planted = n, 0, []
    # request -1 is one query batch and one ingest batch used only by the
    # output checks (never appended)
    extra = [(-1, "query"), (-1, "ingest")]
    for r, kind in list(enumerate(kinds)) + extra:
        if kind == "query":
            for _ in range(sz["query_batch"]):
                d = int(rng.integers(0, n))
                q_ids.append(next_q); next_q += 1
                q_text.append(tm.text(toks[d][:6]))
                q_emb.append(emb[d] + rng.normal(0.0, 0.2, EMB_DIM))
                q_req.append(r)
        else:
            for _ in range(sz["ingest_batch"]):
                if rng.random() < sz["ingest_dup_share"]:
                    d = int(rng.integers(0, n))
                    t, s = _near_copy(rng, toks[d]), srcs[d]
                    e = emb[d] + rng.normal(0.0, 0.05, EMB_DIM)
                    if r >= 0:
                        planted.append(next_id)
                else:
                    s = int(rng.integers(0, N_SOURCES))
                    t = tm.tokens(rng, s, int(rng.integers(60, 180)))
                    e = centroids[s] + rng.normal(0.0, 1.0, EMB_DIM)
                i_ids.append(next_id); next_id += 1
                i_text.append(tm.text(t)); i_emb.append(e); i_req.append(r)
    _write(os.path.join(out, "queries.parquet"), {
        "q_id": (q_ids, pa.int64()), "q_text": (q_text, pa.string()),
        "embedding": (_emb_list(np.array(q_emb, dtype=np.float32)),
                      pa.list_(pa.float32())),
        "req": (q_req, pa.int32())})
    _write(os.path.join(out, "ingest.parquet"), {
        "doc_id": (i_ids, pa.int64()), "text": (i_text, pa.string()),
        "embedding": (_emb_list(np.array(i_emb, dtype=np.float32)),
                      pa.list_(pa.float32())),
        "req": (i_req, pa.int32())})
    return {"docs": n, "requests": n_requests,
            "queries": kinds.count("query"), "ingests": kinds.count("ingest"),
            "query_batch": sz["query_batch"], "ingest_batch": sz["ingest_batch"],
            "planted_ingest_dups": len(planted),
            "planted_ingest_dup_ids": planted,
            "ingest_dup_share": sz["ingest_dup_share"],
            "request_kinds": kinds}


def ensure_inputs(root, workload, seed):
    """Generate (or reuse) the inputs for one (workload, seed, size) key and
    return (directory, planted-metadata dict)."""
    sz = SIZES[workload]
    size_tag = "-".join(f"{v}" for v in sz.values())
    d = os.path.join(root, f"{workload}-s{seed}-{size_tag}")
    meta = os.path.join(d, "planted.json")
    if not os.path.exists(meta):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        rng = _rng(workload, seed)
        if workload == "tabular_learn":
            info = gen_tabular(rng, tmp, sz)
        elif workload == "curate_corpus":
            info = gen_curate(rng, tmp, sz)
        else:
            info = gen_serve(rng, tmp, sz)
        with open(os.path.join(tmp, "planted.json"), "w") as f:
            json.dump(dict(info, workload=workload, seed=seed), f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(meta) as f:
        return d, json.load(f)
