"""Seeded input generation.

`write_base` builds the ten tables every query reads, with the schemas,
column types and value domains of the TPC-H-like test data the engine is
specified against (see FIXTURES.md), at scale factor `BASE_SF`. It always
uses `BASE_SEED`, so every checkout benchmarks the same relational input.

`write_corpus` builds the `llm_curation` input from that base and the run
seed, in the style of `graft.ScaleGen`: `replicas` copies of the documents,
each with its words renamed by a seed- and replica-specific permutation of
the vocabulary, and copies of the embeddings with a small seeded
perturbation, so copies drift apart instead of stacking at cosine 1.0.
Each copy keeps the base's near-duplicate structure, copies are not
near-duplicates of each other, and the vocabulary stays the test data's
31 words at every scale (ScaleGen's token prefixes would multiply it, and
leave no document holding the fixed query terms of ops.Scoring). The
other tables are copied from the base unchanged.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SF = 0.01
BASE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EMB_DIM = 64
# shape parameters measured on the engine's test data (README.md, "Inputs")
NEAR_DUP_EVERY = 20
EVENT_VALUE_MEAN = 50.0


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _documents(rng, n):
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
             for _ in range(n)]
    # near-duplicates, as in the test data: one document in twenty, at
    # random positions, is another document plus one extra token
    dups = rng.choice(n, n // NEAR_DUP_EVERY, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i in dups:
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n, p=[.4, .15, .15, .15, .15])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def base_tables(sf=BASE_SF, seed=BASE_SEED):
    """The ten base tables as pyarrow Tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust).tolist()})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist()})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"],
                                 n_ev).tolist(),
        "value": np.round(rng.exponential(EVENT_VALUE_MEAN, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _write(tables, out):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables.items():
        pq.write_table(table, f"{tmp}/{name}.parquet")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def dir_digest(d):
    """sha256 over the table files' bytes, in table order."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(f"{d}/{name}.parquet", "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def write_base(out):
    _write(base_tables(), out)


def corpus_tables(base_dir, seed, replicas):
    """The `llm_curation` documents and embeddings for `seed`."""
    docs = pq.read_table(f"{base_dir}/documents.parquet")
    emb = pq.read_table(f"{base_dir}/embeddings.parquet")
    rng = np.random.default_rng([BASE_SEED, seed])
    off = max(np.max(docs["doc_id"].to_numpy()), np.max(emb["vec_id"].to_numpy())) + 1
    base_x = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    texts = docs["text"].to_pylist()
    d_parts, e_parts = [], []
    for r in range(replicas):
        word = dict(zip(VOCAB, (VOCAB[i] for i in rng.permutation(len(VOCAB)))))
        mapped = [" ".join(word.get(w, w) for w in t.split(" ")) for t in texts]
        d_parts.append(pa.table({
            "doc_id": pa.array(docs["doc_id"].to_numpy() + r * off, pa.int64()),
            "text": mapped,
            "lang": docs["lang"],
            "source": docs["source"],
            "n_chars": pa.array([len(t) for t in mapped], pa.int64())}))
        x = base_x + 0.003 * rng.standard_normal(base_x.shape).astype(np.float32)
        e_parts.append(pa.table({
            "vec_id": pa.array(emb["vec_id"].to_numpy() + r * off, pa.int64()),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": emb["label"]}))
    return pa.concat_tables(d_parts), pa.concat_tables(e_parts)


def write_corpus(base_dir, out, seed, replicas):
    docs, emb = corpus_tables(base_dir, seed, replicas)
    tables = {n: pq.read_table(f"{base_dir}/{n}.parquet") for n in TABLES
              if n not in ("documents", "embeddings")}
    tables.update(documents=docs, embeddings=emb)
    _write(tables, out)
