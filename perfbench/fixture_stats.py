#!/usr/bin/env python3
"""The input statistics that ``gen.py`` reproduces, measured on a directory.

    python3 perfbench/fixture_stats.py DIR      # DIR holds <table>.parquet

Prints one JSON object: for documents the vocabulary, words per document,
the share of documents that are another one plus the word "dup", and the
share of exact copies; for embeddings the norms and element spread; for
events the users per event; for lineitem the price range. ``FIXTURE`` holds
the same figures as measured on the fixture's sf0.01 (500 documents) and
sf0.1 (5 000 documents) files; ``test_perfbench.py`` checks the
generator's output against them.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

#: measured on the fixture's sf0.01 / sf0.1 files (FIXTURES.md)
FIXTURE = {
    "sf0.01": {
        "documents": 500, "vocabulary": 30, "words_min": 10, "words_max": 99,
        "words_mean": 54.5, "dup_suffixed": 0.05, "exact_copies": 0.0,
        "dup_of_dup": 0.002, "lang_en": 0.436, "embedding_norm": 1.0,
        "embedding_std": 0.125, "labels": 10, "users_per_event": 0.015,
        "extprice_min": 901.82, "extprice_max": 104997.88, "extprice_mean": 53054.3,
    },
    "sf0.1": {
        "documents": 5000, "vocabulary": 30, "words_min": 10, "words_max": 99,
        "words_mean": 54.2, "dup_suffixed": 0.05, "exact_copies": 0.0016,
        "dup_of_dup": 0.0008, "lang_en": 0.4118, "embedding_norm": 1.0,
        "embedding_std": 0.125, "labels": 10, "users_per_event": 0.015,
        "extprice_min": 900.68, "extprice_max": 104999.91, "extprice_mean": 52952.0,
    },
}


def stats(d: str) -> dict:
    def read(name):
        return pq.read_table(os.path.join(d, f"{name}.parquet"))

    texts = read("documents").column("text").to_pylist()
    base = [t.split() for t in texts if not t.endswith(" dup")]
    n_words = np.array([len(w) for w in base])
    docs = read("documents")
    emb = read("embeddings")
    vecs = np.asarray(emb.column("embedding").to_pylist(), dtype=np.float64)
    ev = read("events")
    price = read("lineitem").column("l_extendedprice").to_numpy()
    return {
        "documents": len(texts),
        "vocabulary": len({w for ws in base for w in ws}),
        "words_min": int(n_words.min()),
        "words_max": int(n_words.max()),
        "words_mean": round(float(n_words.mean()), 1),
        "dup_suffixed": sum(t.endswith(" dup") for t in texts) / len(texts),
        "exact_copies": sum(v - 1 for v in Counter(texts).values()) / len(texts),
        "dup_of_dup": sum(t.endswith(" dup dup") for t in texts) / len(texts),
        "lang_en": docs.column("lang").to_pylist().count("en") / len(texts),
        "embedding_norm": round(float(np.linalg.norm(vecs, axis=1).mean()), 4),
        "embedding_std": round(float(vecs.std()), 4),
        "labels": len(set(emb.column("label").to_pylist())),
        "users_per_event": len(set(ev.column("user_id").to_pylist())) / ev.num_rows,
        "extprice_min": float(price.min()),
        "extprice_max": float(price.max()),
        "extprice_mean": round(float(price.mean()), 1),
    }


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.split("\n\n")[1])
    print(json.dumps(stats(sys.argv[1]), indent=1))
