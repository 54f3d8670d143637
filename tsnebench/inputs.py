"""Seeded input generators and exact reference answers for the benchmark.

Everything here is a pure function of the seed, and none of it calls the
program under test: embed_local gets a COO CSV (the reference CLI's
input format) plus the exact input-space top-10 neighbour sets, and
query_mix gets the `documents` and `lineitem` parquet tables its queries
read.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TRUTH_K = 10

# Shape of the embed input. It is small on purpose: one Tsne.run must finish
# in a few seconds so a short run still times several of them.
EMBED = dict(points=600, dims=784, classes=10, styles=6,
             density=0.2, style_flip=0.15, point_flip=0.01)

# query_mix table shapes, close to the repository's sf0.001 test tables.
DOCS = 400
ORDERS = 1500
PARTS = 200
SUPPLIERS = 10
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "filter group big stream vector").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]


def _write_coo(path, x):
    """Writes the nonzero entries of x as `i,j,v` rows (`IO.readCoo` schema)."""
    ii, jj = np.nonzero(x)
    with open(path, "w") as f:
        for i, j in zip(ii.tolist(), jj.tolist()):
            f.write(f"{i},{j},{x[i, j]!r}\n")
    return len(ii)


def exact_top_k(x, k=TRUTH_K):
    """Exact squared-euclidean top-k per point, self excluded, ties broken
    by neighbour id (the order `graft.tsne.Knn` promises)."""
    sq = (x * x).sum(axis=1)
    d = sq[:, None] + sq[None, :] - 2.0 * (x @ x.T)
    n = len(x)
    out = np.empty((n, k), dtype=np.int64)
    ids = np.arange(n)
    for i in range(n):
        row = d[i].copy()
        row[i] = np.inf
        order = np.lexsort((ids, row))
        out[i] = order[:k]
    return out


def _mnist_like(rng, s):
    """Clustered binary 28x28-style vectors: class prototypes, per-class
    styles (prototype with bit flips), points (style with bit flips)."""
    n, d = s["points"], s["dims"]
    protos = rng.random((s["classes"], d)) < s["density"]
    styles = np.repeat(protos, s["styles"], axis=0)
    styles ^= rng.random(styles.shape) < s["style_flip"]
    x = styles[np.arange(n) % len(styles)]
    x = x ^ (rng.random((n, d)) < s["point_flip"])
    return x.astype(np.float64)


def make_embed(seed, work):
    """Writes input.csv and truth.csv (i,j exact top-10) under work."""
    rng = np.random.default_rng([seed, 1])
    x = _mnist_like(rng, EMBED)
    nonzeros = _write_coo(os.path.join(work, "input.csv"), x)
    top = exact_top_k(x)
    with open(os.path.join(work, "truth.csv"), "w") as f:
        for i in range(len(top)):
            for j in top[i]:
                f.write(f"{i},{j}\n")
    return {"points": EMBED["points"], "dims": EMBED["dims"],
            "nonzeros": nonzeros}


def make_tables(seed, work):
    """Writes documents.parquet and lineitem.parquet under work."""
    rng = np.random.default_rng([seed, 3])
    texts = []
    for doc in range(DOCS):
        if doc > 0 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, doc))].split()
            for pos in np.nonzero(rng.random(len(words)) < 0.05)[0]:
                words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB),
                                                    int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(range(DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, DOCS, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{d % 50}" for d in range(DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(work, "documents.parquet"))

    lines = rng.integers(1, 8, ORDERS)
    orderkey = np.repeat(np.arange(1, ORDERS + 1), lines)
    linenumber = np.concatenate([np.arange(1, c + 1) for c in lines])
    li = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, PARTS + 1, len(orderkey)), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, SUPPLIERS + 1, len(orderkey)), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
    })
    pq.write_table(li, os.path.join(work, "lineitem.parquet"))
    return {"documents": DOCS, "lineitem": len(orderkey)}
