#!/usr/bin/env python3
"""Shape figures of an input directory, to compare `gen.py`'s output with
the test data the engine is specified against.

    python3 perfbench/shape.py DIR [DIR ...]

For each directory it prints the figures the benchmark's inputs have to
share with that test data: duplicate and near-duplicate rates, vocabulary
and text length of the documents, nearest-neighbour cosine of the
embeddings, and the key-frequency and value distributions the joins,
aggregations and skew handling see. `README.md` records them for both.
"""
import collections
import sys

import numpy as np
import pyarrow.parquet as pq


def _keys(s):
    """Rows per key: mean, max, share of the rows held by the top 1% of
    keys, and the coefficient of variation."""
    v = s.value_counts()
    top = v.head(max(1, len(v) // 100)).sum() / v.sum()
    return f"{len(v)} keys, mean {v.mean():.1f}, max {v.max()}, top 1% {top:.3f}, cv {v.std() / v.mean():.2f}"


def shape(d):
    read = lambda t: pq.read_table(f"{d}/{t}.parquet").to_pandas()  # noqa: E731
    docs, emb = read("documents"), read("embeddings")
    toks = [t.split(" ") for t in docs.text]
    vocab = collections.Counter(w for t in toks for w in t)
    n_tok = np.array([len(t) for t in toks])
    shingles = [set(zip(t, t[1:], t[2:])) for t in toks]
    near = np.mean([any(len(a & b) / max(1, len(a | b)) >= 0.8
                        for j, b in enumerate(shingles) if j != i)
                    for i, a in enumerate(shingles)])
    x = np.stack(emb.embedding.values).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    cos = x @ x.T
    np.fill_diagonal(cos, -2)
    li, orders, ev = read("lineitem"), read("orders"), read("events")
    return {
        "documents": len(docs),
        "exact-duplicate share": f"{1 - docs.text.nunique() / len(docs):.3f}",
        "near-duplicate share (3-shingle Jaccard >= 0.8)": f"{near:.3f}",
        "vocabulary": len(vocab),
        "tokens per document p10/p50/p90": "/".join(f"{np.percentile(n_tok, p):.0f}" for p in (10, 50, 90)),
        "top token share": f"{vocab.most_common(1)[0][1] / n_tok.sum():.3f}",
        "lang shares": ", ".join(f"{k} {v:.2f}" for k, v in docs.lang.value_counts(normalize=True).items()),
        "embeddings, dim": f"{len(emb)}, {x.shape[1]}",
        "embedding nearest-neighbour cosine p50/max": f"{np.median(cos.max(1)):.2f}/{cos.max():.2f}",
        "lineitem per l_orderkey": _keys(li.l_orderkey),
        "lineitem per l_partkey": _keys(li.l_partkey),
        "orders per o_custkey": _keys(orders.o_custkey),
        "events per user_id": _keys(ev.user_id),
        "event_type shares": ", ".join(f"{k} {v:.2f}" for k, v in ev.event_type.value_counts(normalize=True).items()),
        "events.value p50/mean/max": f"{ev.value.median():.1f}/{ev.value.mean():.1f}/{ev.value.max():.0f}",
    }


def main():
    figures = [shape(d) for d in sys.argv[1:]]
    for k in figures[0]:
        print(f"{k:<48} " + " | ".join(str(f[k]) for f in figures))


if __name__ == "__main__":
    main()
