"""Seeded input generator for the benchmark.

Every table keeps the schema and the dense-id convention of the library's
fixtures (FIXTURES.md): ids run 0..n-1 in file order, `embedding` is
list<float> of dim 64, `label` holds 10 balanced classes, documents carry
space-separated tokens from the fixture vocabulary with a planted `dup`
marker on ~5 % of them. The library only ever sees these parquet files.

What the seed sets, per workload:
- pu: the positive class (PU.puEmbeddings' `posClass`) and, through a
  seeded id permutation, which rows of it land on odd ids (the masked
  known-positive holdout); which documents carry the marker.
- curate: the near-duplicate share and which documents are copies.
- retrieve: the vectors (the number of vectors and queries is fixed, so
  the work per pass does not depend on the seed).
"""
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DIM = 64
CLASSES = 10
MARKER = "dup"
MARKER_SHARE = 0.05

# Input sizes per workload: every call does real executor work, yet a
# steady pass of pu or retrieve stays under ten seconds on four cores.
SIZES = {
    "pu": {"embeddings": 1000, "documents": 1000},
    "curate": {"documents": 600},
    "retrieve": {"embeddings": 3000},
}
# The library's serving queries probe vec_id < 8 (sim_topk_*) and
# vec_id % 5 == 2 (sim_join_pq_salted); recorded, not chosen here.
TOPK_QUERIES = 8


# Class centers: equidistant (scaled basis vectors under one fixed rotation),
# the same for every seed, so no positive class is easier than another and
# the PU loops' iteration counts do not swing with the seed.
CENTERS = 1.5 * np.linalg.qr(np.random.default_rng(0).normal(size=(DIM, DIM)))[0][:CLASSES]


def _embeddings(rng, n):
    # seeded: which rows of each class land on even ids (PU.puEmbeddings'
    # observed positives) and odd ids (the masked holdout); every class
    # puts exactly half of its rows on each
    labels = np.empty(n, dtype=np.int64)
    for parity in (0, 1):
        labels[parity::2] = rng.permutation(np.arange(len(labels[parity::2])) % CLASSES)
    noise = rng.normal(0.0, 0.05, (n, DIM))
    vecs = (CENTERS[labels] + noise).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)),
        pa.array(vecs.reshape(-1)))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels.astype(np.int32)),
    })


def _documents(rng, n, dup_share):
    vocab = np.array(VOCAB)
    texts = []
    n_copies = 0
    is_copy = rng.random(n) < dup_share
    for i in range(n):
        if is_copy[i] and i > 0:
            # a near-duplicate: an earlier document (possibly itself a copy,
            # which chains clusters) with ~5 % of its tokens replaced
            toks = texts[int(rng.integers(0, i))].split()
            toks = [t for t in toks if t != MARKER]
            edits = rng.random(len(toks)) < 0.05
            for j in np.flatnonzero(edits):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            n_copies += 1
        else:
            toks = list(vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 61)))])
        texts.append(" ".join(toks))
    marked = rng.random(n) < MARKER_SHARE
    texts = [t + " " + MARKER if m else t for t, m in zip(texts, marked)]
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    return table, n_copies, int(marked.sum())


def generate(workload, seed, out_dir):
    """Writes the workload's tables under out_dir; returns (props, gen_s)."""
    t0 = time.perf_counter()
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    sizes = SIZES[workload]
    props = {"seed": seed, "sizes": dict(sizes)}
    if workload == "pu":
        pos_class = int(rng.integers(0, CLASSES))
        emb = _embeddings(rng, sizes["embeddings"])
        docs, _, marked = _documents(rng, sizes["documents"], 0.0)
        labels = emb.column("label").to_numpy()
        ids = emb.column("vec_id").to_numpy()
        props.update({
            "pos_class": pos_class,
            "pos_token": MARKER,
            "known_positives": int(((labels == pos_class) & (ids % 2 == 0)).sum()),
            "holdout_positives": int(((labels == pos_class) & (ids % 2 == 1)).sum()),
            "marked_documents": marked,
        })
        pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
        pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    elif workload == "curate":
        dup_share = float(0.12 + 0.06 * rng.random())
        docs, n_copies, marked = _documents(rng, sizes["documents"], dup_share)
        props.update({"near_dup_share": dup_share, "near_dup_docs": n_copies,
                      "marked_documents": marked})
        pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    elif workload == "retrieve":
        n = sizes["embeddings"]
        emb = _embeddings(rng, n)
        props.update({"vectors": n, "topk_queries": TOPK_QUERIES,
                      "join_queries": len(range(2, n, 5))})
        pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    else:
        raise ValueError(f"unknown workload {workload}")
    return props, time.perf_counter() - t0
