"""Seed-driven benchmark inputs.

The text corpus is fixed (generated from ``CORPUS_SEED``, the way a
TPC-style scale factor is a fixed table), so reference outputs can be
recorded once. The workload seed picks everything else: the crawl's
seed-URL sample, the namespace of its history fingerprints and the row
order of the corpus workload's documents. The program under test only ever
sees the generated tables.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
VOCAB = (
    "a the spark data table row column value key hash join merge sort "
    "scan filter group agg order line part customer query batch stream "
    "window vector fast slow big small"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)


def documents(n_docs: int) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)`` — the schema
    ``synth.generate_pages`` reads. Every 97th document repeats the
    previous one's text exactly and every 31st repeats it with one word
    changed, so exact and near dedup have work to do."""
    rng = random.Random(CORPUS_SEED)
    texts: list[str] = []
    langs: list[str] = []
    for i in range(n_docs):
        if i and i % 97 == 0:
            text = texts[-1]
        elif i and i % 31 == 0:
            words = texts[-1].split(" ")
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words)
        else:
            n_chars = rng.randint(44, 577)
            words = []
            size = -1
            while size < n_chars:
                w = rng.choice(VOCAB)
                words.append(w)
                size += len(w) + 1
            text = " ".join(words)[:n_chars].rstrip()
        texts.append(text)
        langs.append(rng.choices(LANGS, LANG_WEIGHTS)[0])
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(sf_dir: str, n_docs: int) -> pa.Table:
    """Write ``{sf_dir}/documents.parquet``; returns the table."""
    os.makedirs(sf_dir, exist_ok=True)
    table = documents(n_docs)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return table


def seed_docs(seed: int, n_docs: int, per_host: int) -> list[int]:
    """The crawl's seed-URL sample: ``per_host`` distinct doc ids on
    every host of the corpus."""
    from crawl4ai_spark.synth import page_host

    by_host: dict[str, list[int]] = {}
    for i in range(n_docs):
        by_host.setdefault(page_host(i), []).append(i)
    rng = random.Random(seed * 7919 + 1)
    return sorted(i for h in sorted(by_host)
                  for i in rng.sample(by_host[h], per_host))


def history_namespace(seed: int) -> str:
    """Host of the preloaded crawl-history fingerprints: disjoint from
    every corpus URL (``*.example.com``) by construction."""
    n = random.Random(seed * 104729 + 3).randrange(10**6)
    return f"hist{n}.example.org"
