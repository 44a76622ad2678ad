"""Seeded input generator.

Writes a ``documents.parquet`` in the shape of the repository's sf test
tables, see TESTDATA.md: ``doc_id BIGINT, text STRING, lang STRING,
source STRING, n_chars BIGINT``; space-joined words from the 30-word
synthetic vocabulary, five languages, twenty sources, a share of
near-duplicates that end in `` dup`` and a few exact duplicates. The
program only ever sees the generated directory. The same ``(seed, n_docs)`` gives a
byte-identical file.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 8, 100
NEAR_DUP_SHARE = 0.05    # copy of an earlier doc with " dup" appended
EXACT_DUP_SHARE = 0.002  # verbatim copy of an earlier doc

SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64())])


def documents(n_docs: int, seed: int) -> pa.Table:
    rng = np.random.Generator(np.random.PCG64(seed))
    n_words = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(n_words.sum()))
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    kind = rng.random(n_docs)
    src = rng.integers(0, n_docs, size=n_docs)
    texts: list[str] = []
    pos = 0
    for i in range(n_docs):
        text = " ".join(VOCAB[w] for w in words[pos:pos + n_words[i]])
        pos += n_words[i]
        if i > 0 and kind[i] < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            base = texts[src[i] % i]
            text = base if kind[i] < EXACT_DUP_SHARE else base + " dup"
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[x] for x in langs], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=SCHEMA)


def write_sf_dir(path: str, n_docs: int, seed: int) -> str:
    """Write the generated tables under ``path`` (an sf-dir) and return it."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(documents(n_docs, seed),
                   os.path.join(path, "documents.parquet"),
                   compression="snappy", row_group_size=1 << 20)
    return path
