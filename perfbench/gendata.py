"""Seeded input generation. Each workload's tables are written as
parquet files under one directory; the same seed gives the same
files."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# oltp: rows bulk-loaded into `acct`. 150k crosses the engine's
# auto-snapshot threshold (100k events) during the load.
ACCT_ROWS = 150_000

# curation: a text corpus with planted near-duplicates and a clustered
# embedding set.
DOCUMENTS = 100
NEAR_DUP_SHARE = 0.3
EMBEDDINGS = 100
EMBED_DIM = 64
EMBED_CLUSTERS = 8
VOCAB = ("a the data spark table query join group sort filter scan hash "
         "key value row column order line part customer batch stream "
         "window merge agg fast slow big small vector index time event "
         "log state view shard cache page").split()


def _write(path, table):
    pq.write_table(table, path)


def oltp(out, seed):
    rng = np.random.default_rng([seed, 1])
    ids = np.arange(1, ACCT_ROWS + 1, dtype=np.int64)
    bal = rng.integers(0, 100_000, ACCT_ROWS, dtype=np.int64)
    _write(os.path.join(out, "acct.parquet"),
           pa.table({"id": ids, "bal": bal}))


def curation(out, seed):
    rng = np.random.default_rng([seed, 3])
    docs = []
    for i in range(DOCUMENTS):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = list(docs[int(rng.integers(0, i))])
            for _ in range(max(1, len(words) // 12)):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            n = int(rng.integers(5, 101))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n)]
        docs.append(words)
    text = [" ".join(w) for w in docs]
    _write(os.path.join(out, "documents.parquet"), pa.table({
        "doc_id": np.arange(DOCUMENTS, dtype=np.int64),
        "text": text,
        "lang": [("en", "de", "fr")[int(x)] for x in rng.integers(0, 3, DOCUMENTS)],
        "source": [("web", "books", "code", "news")[int(x)]
                   for x in rng.integers(0, 4, DOCUMENTS)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)}))
    centers = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, EMBED_CLUSTERS, EMBEDDINGS)
    vecs = (centers[labels] + rng.normal(0.0, 0.3, (EMBEDDINGS, EMBED_DIM))).astype(np.float32)
    _write(os.path.join(out, "embeddings.parquet"), pa.table({
        "vec_id": np.arange(EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}))


GENERATORS = {"oltp": oltp, "curation": curation}
