"""Seeded input generator for the graft benchmark.

Writes the TPC-H-ish star tables plus the `documents` and `embeddings`
tables that graft's operators read (one parquet file per table, the
schemas of FIXTURES.md section 3). The same (seed, sf) always yields
byte-identical tables; the program under test only ever sees these files.

    python3 perfbench/datagen.py OUT_DIR --seed 7 --sf 0.05
"""

import argparse
import collections
import hashlib
import os
import re
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "green", "steel",
            "brass", "matte", "shiny", "light", "heavy", "round", "flat",
            "smooth", "rough", "tiny", "giant", "polished"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring",
             "shaft", "panel", "wheel", "screw", "hinge", "clamp", "lever",
             "plate", "rod", "washer", "bearing", "pulley", "socket"]
PART_TYPE = ["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM"]
# Mean word length ~4.5 and a few stopwords, so the Gopher gate keeps a
# majority of documents and the curation chain has work at every stage.
WORDS = ["batch", "part", "spark", "line", "column", "order", "small", "sort",
         "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
         "query", "big", "key", "window", "row", "table", "stream", "merge",
         "data", "join", "vector", "customer", "index", "shard", "plan",
         "cache", "graph", "node", "edge", "page", "rank", "token", "model",
         "score"]
STOP = ["the", "a", "of", "and", "is"]
# the batch jobs' document subset: doc_id * MIX + seed mod 100 < DOC_CUT
# (Batch.Mix / Batch.docCut)
MIX = 2654435761
DOC_CUT = 80
# MinHash prime of graft's LSH (Dedup.P; coefficients Dedup.aCoef / bCoef)
P = 4294967311
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.45, 0.15, 0.13, 0.14, 0.13]


def write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def gen_star(out, rng, sf):
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS}))
    write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32())}))
    write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}))
    write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}))
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPE[i] for i in rng.integers(0, len(PART_TYPE), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)}))
    day = np.datetime64("1992-01-01", "us")
    dates = day + rng.integers(0, 365 * 7, n_ord).astype("timedelta64[D]")
    write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 450000, n_ord), 2),
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}))
    # 1-7 lines per order, ~4 on average (TPC-H's ratio)
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    starts = np.cumsum(per) - per
    lnum = np.arange(len(okey)) - np.repeat(starts, per) + 1
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(dates[okey] + rng.integers(1, 122, n_li)
                               .astype("timedelta64[D]"), pa.timestamp("us"))}))


def gen_documents(out, rng, n_docs):
    texts = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few token edits
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            n = int(rng.integers(12, 100))
            toks = [WORDS[j] for j in rng.integers(0, len(WORDS), n)]
            for _ in range(int(rng.integers(1, 5))):
                toks[int(rng.integers(0, n))] = STOP[int(rng.integers(0, len(STOP)))]
        texts.append(" ".join(toks))
    write(out, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))


def gen_embeddings(out, rng, n_vecs, dim=64):
    vecs = rng.normal(size=(n_vecs, dim)).astype(np.float32)
    labels = rng.integers(0, 10, n_vecs)
    for i in range(1, n_vecs):
        if rng.random() < 0.1:  # near-duplicate of an earlier vector
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(scale=0.2, size=dim).astype(np.float32)
            labels[i] = labels[j]
    write(out, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}))


def near_dup_bounds(out, threshold=0.35, eps=1e-5):
    """Embedding pairs within one label whose cosine clears the threshold:
    (surely above, possibly above) the float rounding band around it."""
    t = pq.read_table(os.path.join(out, "embeddings.parquet"))
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
    labels = t.column("label").to_numpy()
    lo = hi = 0
    for lab in np.unique(labels):
        x = vecs[labels == lab]
        x = x / np.linalg.norm(x, axis=1, keepdims=True)
        c = (x @ x.T)[np.triu_indices(len(x), k=1)]
        lo += int((c >= threshold + eps).sum())
        hi += int((c >= threshold - eps).sum())
    return lo, hi


def fingerprint(rows):
    """Order-free fingerprint of a job's output, as Batch computes it: the
    sum over rows of the CRC-32 of the row's exact columns joined by '|'."""
    return sum(zlib.crc32("|".join(map(str, r)).encode()) for r in rows)


def p03_rows(out, seed):
    """The p03 chain over the seeded document subset, in plain Python after
    the chain's DuckDB twin: Gopher gate -> 3-word-shingle MinHash, 4 bands
    of 4 rows -> union-find clusters (min id) -> keep the copy with the most
    distinct tokens (ties: lowest id) -> 128-token packing per language.
    Rows are (lang, bin, n_docs, bin_tokens)."""
    t = pq.read_table(os.path.join(out, "documents.parquet"), columns=["doc_id", "text", "lang"])
    gated = []
    for i, text, lang in zip(*(t.column(c).to_pylist() for c in ("doc_id", "text", "lang"))):
        if (i * MIX + seed) % 100 >= DOC_CUT:
            continue
        w = text.split(" ")
        n = len(w)
        mwl = sum(len(x) for x in w) / n
        alpha = sum(1 for x in w if re.fullmatch("[A-Za-z]+", x)) / n
        if (30 <= n <= 90 and 4.0 <= mwl <= 4.9 and alpha >= 0.8
                and sum(1 for x in w if x in STOP) >= 2):
            gated.append((i, w, lang))
    buckets = collections.defaultdict(list)
    for i, w, _ in gated:
        hs = [int(hashlib.md5(sh.encode()).hexdigest()[:15], 16) % P
              for sh in {" ".join(w[j:j + 3]) for j in range(len(w) - 2)}]
        mh = [min(((101 + 37 * k) * h + 12345 + 789 * k) % P for h in hs) for k in range(16)]
        for b in range(4):
            buckets[(b, tuple(mh[4 * b:4 * b + 4]))].append(i)
    root = {}

    def find(x):
        while root.get(x, x) != x:
            x = root[x]
        return x
    for ids in buckets.values():
        for x in ids[1:]:
            a, b = find(ids[0]), find(x)
            if a != b:
                root[max(a, b)] = min(a, b)
    members = {x for ids in buckets.values() if len(ids) > 1 for x in ids}
    quality = {i: len(set(w)) for i, w, _ in gated}
    best = {}
    for i in sorted(members):
        c = find(i)
        if c not in best or quality[i] > quality[best[c]]:
            best[c] = i
    keep = set(best.values())
    kept = [r for r in gated if r[0] not in members or r[0] in keep]
    bins = collections.defaultdict(lambda: [0, 0])
    seen = collections.defaultdict(int)
    for i, w, lang in kept:
        b = bins[(lang, seen[lang] // 128)]
        b[0] += 1
        b[1] += len(w)
        seen[lang] += len(w)
    return [(lang, b, n, tok) for (lang, b), (n, tok) in bins.items()]


def star_graph(out):
    """StarGraph's node uids and undirected adjacency (every FK an edge)."""
    def col(table, *cols):
        t = pq.read_table(os.path.join(out, f"{table}.parquet"), columns=list(cols))
        return [t.column(c).to_pylist() for c in cols]
    uids, adj = [], collections.defaultdict(list)
    for kind, table, key in (("customer", "customer", "c_custkey"),
                             ("supplier", "supplier", "s_suppkey"),
                             ("nation", "nation", "n_nationkey"),
                             ("region", "region", "r_regionkey"),
                             ("part", "part", "p_partkey"),
                             ("orders", "orders", "o_orderkey")):
        uids += [f"{kind}:{k}" for k in col(table, key)[0]]
    for table, a, ka, b, kb in (("customer", "customer", "c_custkey", "nation", "c_nationkey"),
                                ("supplier", "supplier", "s_suppkey", "nation", "s_nationkey"),
                                ("nation", "nation", "n_nationkey", "region", "n_regionkey"),
                                ("orders", "orders", "o_orderkey", "customer", "o_custkey"),
                                ("lineitem", "orders", "l_orderkey", "part", "l_partkey")):
        for x, y in zip(*col(table, ka, kb)):
            adj[f"{a}:{x}"].append(f"{b}:{y}")
            adj[f"{b}:{y}"].append(f"{a}:{x}")
    return uids, adj


def hop_rows(adj, seed_uid):
    """Undirected BFS distances from one node: (uid, dist) per reachable node."""
    dist, frontier = {seed_uid: 0}, [seed_uid]
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    nxt.append(v)
        frontier = nxt
    return list(dist.items())


def triangle_rows(out, priority):
    """Per-part triangle counts of the co-purchase graph (two parts are
    adjacent when an order of `priority` holds both): (part, triangles)
    for every part in at least one triangle."""
    o = pq.read_table(os.path.join(out, "orders.parquet"), columns=["o_orderkey", "o_orderpriority"])
    keys = {k for k, p in zip(*(o.column(c).to_pylist() for c in o.column_names)) if p == priority}
    li = pq.read_table(os.path.join(out, "lineitem.parquet"), columns=["l_orderkey", "l_partkey"])
    parts = collections.defaultdict(set)
    for ok, pk in zip(*(li.column(c).to_pylist() for c in li.column_names)):
        if ok in keys:
            parts[ok].add(pk)
    nbr = collections.defaultdict(set)
    for ps in parts.values():
        for a in ps:
            nbr[a] |= ps - {a}
    tri = collections.Counter()
    for a in nbr:
        for b in nbr[a]:
            if b > a:
                for c in nbr[a] & nbr[b]:
                    if c > b:
                        tri[a] += 1
                        tri[b] += 1
                        tri[c] += 1
    return list(tri.items())


def batch_expectations(out, seed):
    """Exact outputs of the batch jobs that have one, as (rows,
    fingerprint), plus the seeded job parameters (traversal seed, order
    priority of the co-purchase graph)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = pq.read_metadata(os.path.join(out, "customer.parquet")).num_rows
    hop_seed = f"customer:{int(rng.integers(0, n_cust))}"
    priority = PRIORITIES[int(rng.integers(0, len(PRIORITIES)))]
    uids, adj = star_graph(out)
    o = pq.read_table(os.path.join(out, "orders.parquet"), columns=["o_custkey"])
    per_cust = collections.Counter(o.column("o_custkey").to_pylist())
    jobs = {
        "p03_curation": p03_rows(out, seed),
        "pagerank": [(u,) for u in uids],
        "hop_distances": hop_rows(adj, hop_seed),
        "triangles": triangle_rows(out, priority),
        "order_counts": [(f"customer:{c}", n) for c, n in per_cust.items()],
    }
    params = {"hop_seed": hop_seed, "priority": priority}
    return params, {j: (len(r), fingerprint(r)) for j, r in jobs.items()}


def write_expectations(out, seed):
    """Plain-text copies of what the checks compare against, so the
    harness reads them without running a query."""
    exp = os.path.join(out, "expect")
    os.makedirs(exp)

    def tsv(name, table, cols):
        t = pq.read_table(os.path.join(out, f"{table}.parquet"), columns=cols)
        rows = zip(*(t.column(c).to_pylist() for c in cols))
        with open(os.path.join(exp, f"{name}.tsv"), "w") as f:
            f.writelines("\t".join(repr(v) if isinstance(v, float) else str(v) for v in r) + "\n"
                         for r in rows)

    tsv("customers", "customer", ["c_custkey", "c_acctbal", "c_nationkey"])
    tsv("orders", "orders", ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                             "o_orderpriority"])
    tsv("parts", "part", ["p_partkey", "p_name"])
    tsv("documents", "documents", ["doc_id", "text"])
    lo, hi = near_dup_bounds(out)
    with open(os.path.join(exp, "near_dup_pairs.tsv"), "w") as f:
        f.write(f"{lo}\t{hi}\n")
    params, jobs = batch_expectations(out, seed)
    with open(os.path.join(exp, "batch_params.tsv"), "w") as f:
        f.writelines(f"{k}\t{v}\n" for k, v in params.items())
    with open(os.path.join(exp, "batch.tsv"), "w") as f:
        f.writelines(f"{j}\t{n}\t{fp}\n" for j, (n, fp) in jobs.items())


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    gen_star(out, rng, sf)
    gen_documents(out, rng, int(50000 * sf))
    gen_embeddings(out, rng, int(20000 * sf))
    write_expectations(out, seed)


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    a = ap.parse_args()
    generate(a.out, a.seed, a.sf)
