"""Seeded generation of the benchmark's input tables.

Every table is a pure function of (workload, seed) and is written to parquet
before the program starts, so the program only ever reads generated tables.
The shapes follow the repo's `documents` and `embeddings` test tables:
documents(doc_id, text, lang, source, n_chars) with texts of 15-65 words
from a small vocabulary, and embeddings(vec_id, embedding FLOAT[64], label)
drawn around ten cluster centres.
"""
import random

import duckdb
import pandas as pd

WORDS = ("a the data spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "join part batch customer vector").split()
LANGS = ["en", "en", "en", "fr", "es", "de", "zh"]

# Boilerplate words appear in no generated document, so the cluster's
# shingle set cannot coincide with a natural document's.
BOILER = "cookie consent banner footer privacy notice imprint sitemap".split()

# Input sizes per workload: documents, embeddings, boilerplate cluster size.
SIZES = {
    "crawl_build": {"docs": 1000},
    "small_queries": {"docs": 1250, "vecs": 500, "cluster": 150},
}
CLUSTER_BASE_ID = 10_000_000


def documents(rng, n):
    rows = []
    for i in range(n):
        text = " ".join(rng.choice(WORDS) for _ in range(rng.randint(15, 65)))
        rows.append((i, text, rng.choice(LANGS), f"src{rng.randrange(20)}",
                     len(text)))
    return rows


def cluster(rng, k):
    """k documents with one shingle set and k distinct byte strings: each
    walks the same cycle of len(BOILER) words from its own start word for
    its own number of words (at least len(BOILER) + 2), so every member holds
    all of the cycle's word 3-grams and no others."""
    block = rng.sample(BOILER, len(BOILER))
    b = len(block)
    rows = []
    for r in range(k):
        start, length = r % b, b + 2 + r // b
        text = " ".join(block[(start + t) % b] for t in range(length))
        rows.append((CLUSTER_BASE_ID + r, text, "en", "boiler", len(text)))
    return rows


def embeddings(rng, n, dim=64, labels=10):
    centres = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(labels)]
    rows = []
    for i in range(n):
        label = rng.randrange(labels)
        rows.append((i, [c + rng.gauss(0, 0.6) for c in centres[label]], label))
    return rows


def write(rows, columns, sql_select, path):
    df = pd.DataFrame(rows, columns=columns)  # noqa: F841 (read by duckdb)
    con = duckdb.connect()
    con.execute(f"COPY (SELECT {sql_select} FROM df) TO '{path}' (FORMAT parquet)")
    con.close()


def generate(workload, seed, raw_dir):
    """Writes the workload's raw tables under raw_dir; returns their sizes."""
    rng = random.Random(f"{workload}:{seed}")
    size = SIZES[workload]
    docs = documents(rng, size["docs"])
    if "cluster" in size:
        docs += cluster(rng, size["cluster"])
    write(docs, ["doc_id", "text", "lang", "source", "n_chars"],
          "CAST(doc_id AS BIGINT) AS doc_id, text, lang, source, "
          "CAST(n_chars AS BIGINT) AS n_chars",
          f"{raw_dir}/documents.parquet")
    if "vecs" in size:
        write(embeddings(rng, size["vecs"]), ["vec_id", "embedding", "label"],
              "CAST(vec_id AS BIGINT) AS vec_id, "
              "CAST(embedding AS FLOAT[]) AS embedding, "
              "CAST(label AS INTEGER) AS label",
              f"{raw_dir}/embeddings.parquet")
    return size
