"""Seeded document files of the graft benchmark's ingest workload.

One seed always yields the same files, and the program only ever sees
the files: documents in the ZipfDocs `dups` shape, with the columns of
the fixtures' `documents` table. The olap workload reads the sf0.01
fixture kept in data/ instead.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, name + ".parquet"))


def documents(seed, n, vocab=60000, copy_from=None):
    """Texts of doc ids 0..n-1 in the ZipfDocs `dups` shape: 40-59 tokens
    from a Zipf(1) vocabulary (rank = ceil(V^u)). About 15% of the docs
    are exact copies and 10% near copies (token 5 swapped for a rare
    term; 3-gram shingle Jaccard about 0.88) of an original: the first
    doc of their block of 16, or with copy_from = b, for the ids from b
    on, partly of a doc below b. Every 16th doc is an original."""
    rng = np.random.default_rng([seed, 3])
    lens = rng.integers(40, 60, n)
    ranks = np.ceil(np.exp(rng.random(int(lens.sum())) * np.log(vocab))).astype(np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)])
    cls = rng.integers(0, 20, n)
    cls[np.arange(n) % 16 == 0] = 19
    far = rng.integers(0, (copy_from or 16) // 16, n) * 16
    swap = rng.integers(40000, 60000, n)
    texts = []
    for i in range(n):
        k = int(cls[i])
        if copy_from is not None and i >= copy_from and k in (0, 3):
            src = int(far[i])
        elif k < 5:
            src = i - i % 16
        else:
            src = i
        toks = [f"t{r}" for r in ranks[starts[src]:starts[src + 1]]]
        if k in (3, 4):
            toks[4] = f"t{swap[i]}"
        texts.append(" ".join(toks))
    return texts


def write_documents(dir_, name, texts, first_id=0):
    ids = np.arange(first_id, first_id + len(texts))
    langs = np.array(["en", "en", "en", "de", "fr", "es", "it"], dtype=object)
    _write(dir_, name, {
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[ids % 7], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def make_ingest(dir_, seed):
    """Writes the backfill corpus and the stream's document pool into dir_."""
    os.makedirs(dir_, exist_ok=True)
    from_ = INGEST_BACKFILL
    texts = documents(seed, from_ + INGEST_POOL, copy_from=from_)
    write_documents(dir_, "backfill", texts[:from_])
    write_documents(dir_, "stream", texts[from_:], first_id=from_)


# ingest: stored corpus, and the docs available to the stream
INGEST_BACKFILL = 6000
INGEST_POOL = 4000
