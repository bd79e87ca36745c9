"""Seeded document corpus for the ``corpus_prep`` workload.

The corpus follows the shape of the repository's test documents table
(``doc_id, text, lang, source, n_chars``): texts are bags of 10-100 words
drawn uniformly from a 30-word vocabulary, languages are skewed towards
``en``.  A fixed share of the documents are near-duplicates: a copy of an
earlier document with one word reversed.  Copies are taken from every
document, including the low ``doc_id`` probe slice the capstone screens
contamination against, so the near-dup components, the canonical choice and
the contamination screen all have positives to find.

Everything is a pure function of the seed: the same seed writes the same
parquet rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
MIN_WORDS, MAX_WORDS = 10, 100
#: share of the corpus that is a near-duplicate copy of another document
NEAR_DUP_SHARE = 0.25


def generate(n_docs: int, seed: int) -> pa.Table:
    """Return ``n_docs`` documents; ``round(n_docs * NEAR_DUP_SHARE)`` of
    them are one-word-reversed copies of the others."""
    if n_docs < 2:
        raise ValueError("n_docs must be at least 2")
    rng = np.random.default_rng(seed)
    n_copies = round(n_docs * NEAR_DUP_SHARE)
    n_base = n_docs - n_copies
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_base)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    langs = rng.choice(len(LANGS), size=n_base, p=LANG_WEIGHTS)
    cuts = np.cumsum(lengths)[:-1]
    texts = [[VOCAB[w] for w in doc] for doc in np.split(words, cuts)]
    lang_of = [LANGS[i] for i in langs]

    origins = rng.integers(0, n_base, size=n_copies)
    pick = rng.random(n_copies)
    for origin, u in zip(origins, pick):
        doc = list(texts[origin])
        # reverse a word longer than one letter ("a" reads the same reversed)
        positions = [i for i, w in enumerate(doc) if len(w) > 1]
        i = positions[int(u * len(positions))]
        doc[i] = doc[i][::-1]
        texts.append(doc)
        lang_of.append(lang_of[origin])

    # interleave copies with the base documents so doc_id order carries no
    # information about which is the copy
    order = rng.permutation(n_docs)
    joined = [" ".join(texts[i]) for i in order]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(joined, pa.string()),
            "lang": pa.array([lang_of[i] for i in order], pa.string()),
            "source": pa.array([f"src{d % N_SOURCES}" for d in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in joined], pa.int64()),
        }
    )


def write(directory: str, n_docs: int, seed: int) -> str:
    """Write ``documents.parquet`` (one file, one row group) into
    ``directory`` and return the directory."""
    os.makedirs(directory, exist_ok=True)
    pq.write_table(generate(n_docs, seed), os.path.join(directory, "documents.parquet"))
    return directory
