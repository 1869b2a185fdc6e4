"""Seeded ``documents`` generator for the benchmark workloads.

The program under test only ever sees the table this module writes: a
single ``documents.parquet`` with the schema of the engine's
``documents`` table (``doc_id:bigint, text:string, lang:string, source:string,
n_chars:bigint``).

Shape of a corpus: ``n_base`` base documents are synthesized from the
seed (language mix, 20 sources, 10-100 words drawn Zipf-like from a
fixed vocabulary, so a few stop-word bigrams are hot and most are rare),
then every base document is replicated ``replicas`` times. Each extra
copy is mutated with probability ``m``: one word per 12-word paragraph
is replaced, so every paragraph sentence of that copy is new while the
copy stays a near-duplicate of its base (word-bigram Jaccard ~0.7).
Unmutated copies repeat every content sentence exactly. ``m`` is chosen
from the requested distinct-sentence share ``D`` as
``m = (D * replicas - 1) / (replicas - 1)``; the share actually reached
is measured on the English sentences the pipeline will see (HTML
synthesis, extraction and sentence split through the engine's own
pure-Python kernels) and recorded in ``corpus.json`` with the sha256 of
the parquet bytes.

The same arguments give byte-identical parquet.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 100
PARA_WORDS = 12  # functions.webgen wraps every 12 words into one paragraph
#: copies get doc_id + rep * COPY_STRIDE; a multiple of 8 keeps each copy
#: on its base document's HTML template (webgen picks doc_id % 8)
COPY_STRIDE = 1_000_000
VOCAB_SIZE = 4000
ZIPF_SHIFT = 2.7

SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def vocabulary() -> list[str]:
    """Fixed (seed-independent) lowercase ascii vocabulary, most frequent
    first."""
    rng = np.random.default_rng(0)
    onset = "b c d f g h j k l m n p r s t v w z".split()
    nucleus = "a e i o u".split()
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        k = int(rng.integers(1, 4))
        w = "".join(onset[int(rng.integers(len(onset)))]
                    + nucleus[int(rng.integers(len(nucleus)))]
                    for _ in range(k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def mutation_prob(distinct_share: float, replicas: int) -> float:
    if replicas < 1:
        raise ValueError("replicas must be >= 1")
    if replicas == 1:
        return 0.0
    m = (distinct_share * replicas - 1.0) / (replicas - 1)
    return min(1.0, max(0.0, m))


def generate(seed: int, n_base: int, replicas: int,
             distinct_share: float) -> pa.Table:
    if not 0 < n_base < COPY_STRIDE:
        raise ValueError(f"n_base must be in (0, {COPY_STRIDE})")
    rng = np.random.default_rng(seed)
    vocab = np.array(vocabulary())
    p = 1.0 / (np.arange(VOCAB_SIZE) + ZIPF_SHIFT)
    p /= p.sum()
    langs = rng.choice(len(LANGS), size=n_base, p=LANG_P)
    sources = rng.integers(0, N_SOURCES, size=n_base)
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_base)
    base = [rng.choice(VOCAB_SIZE, size=int(n), p=p) for n in lengths]
    m = mutation_prob(distinct_share, replicas)

    ids, texts, ls, srcs = [], [], [], []
    for rep in range(replicas):
        mutate = rng.random(n_base) < m if rep else np.zeros(n_base, bool)
        for i in range(n_base):
            words = base[i]
            if mutate[i]:
                words = words.copy()
                pos = np.arange(int(rng.integers(PARA_WORDS)), len(words),
                                PARA_WORDS)
                # shift by 1..VOCAB_SIZE-1: the replacement always differs
                words[pos] = (words[pos] + rng.integers(
                    1, VOCAB_SIZE, size=len(pos))) % VOCAB_SIZE
            ids.append(i + rep * COPY_STRIDE)
            texts.append(" ".join(vocab[words]))
            ls.append(LANGS[langs[i]])
            srcs.append(f"src{sources[i]}")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(ls, pa.string()),
        "source": pa.array(srcs, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=SCHEMA)


def sentence_stats(table: pa.Table, lang: str = "en") -> tuple[int, int]:
    """(sentences, distinct token sequences) over the ``lang`` pages, using
    the engine's shared pure-Python kernels (the same bytes the Spark
    pipeline extracts)."""
    from joint_entity_and_relation_extraction_spark.functions import (
        text as T, webgen)

    n = 0
    distinct: set[tuple[str, ...]] = set()
    cols = table.to_pydict()
    for doc_id, text, lg in zip(cols["doc_id"], cols["text"], cols["lang"]):
        if lg != lang:
            continue
        html = webgen.make_html(doc_id, text, lg)
        for s in T.sentences(T.html_to_text(html)):
            n += 1
            distinct.add(tuple(s["tokens"]))
    return n, len(distinct)


def write_corpus(out_dir: str, seed: int, n_base: int, replicas: int,
                 distinct_share: float) -> dict:
    """Write ``documents.parquet`` + ``corpus.json`` under ``out_dir`` and
    return the recorded metadata."""
    os.makedirs(out_dir, exist_ok=True)
    table = generate(seed, n_base, replicas, distinct_share)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path, compression="snappy")
    with open(path, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()
    sents, distinct = sentence_stats(table)
    meta = {
        "seed": seed, "n_base": n_base, "replicas": replicas,
        "target_distinct_share": distinct_share,
        "mutation_prob": mutation_prob(distinct_share, replicas),
        "documents": table.num_rows,
        "en_documents": sum(1 for x in table.column("lang").to_pylist()
                            if x == "en"),
        "en_sentences": sents, "en_distinct_sentences": distinct,
        "distinct_share": round(distinct / sents, 4) if sents else 0.0,
        "input_sha256": digest,
    }
    with open(os.path.join(out_dir, "corpus.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta

