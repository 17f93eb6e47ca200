"""Seeded document corpus for the ``corpus_curation`` workload.

Every clean document is a few paragraphs of pseudo-English whose word
count is a multiple of the engine's segment size, so a shared
boilerplate paragraph lands on a segment boundary. The corpus plants:

* near-duplicates: copies of an earlier clean document with a few
  words replaced (word-bigram Jaccard far above 0.8), always given a
  higher id than their original, which is the copy near-dedup drops;
* boilerplate: a handful of fixed paragraphs appended to many
  documents, which segment dedup should keep exactly once;
* junk: documents the quality filters should reject (too short, or
  numbers only).

The ground truth stays with the benchmark; the engine only sees the
parquet file.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

SEG_WORDS = 50
STOPWORDS = "the a an and or of to in is are was were be it this that for on with as at by from".split()
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "qua", "bri",
              "den", "for", "gal", "hum", "jor", "lin", "mor", "pen", "sto"]


@dataclass
class Corpus:
    path: str
    n_docs: int
    dup_ids: set[int]  # planted near-duplicates near-dedup should drop
    junk_ids: set[int]  # documents the quality filters should drop
    boilerplates: list[str]


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randrange(2, 5))))
    return sorted(words)


def _words(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    return [rng.choice(STOPWORDS) if rng.random() < 0.25 else rng.choice(vocab)
            for _ in range(n)]


def _paragraphs(words: list[str], size: int = SEG_WORDS) -> str:
    return "\n".join(" ".join(words[i:i + size]) for i in range(0, len(words), size))


def generate(path: str, seed: int, n_docs: int, dup_share: float = 0.15,
             boilerplate_share: float = 0.3, junk_share: float = 0.03,
             n_boilerplates: int = 4) -> Corpus:
    """Write ``n_docs`` documents to the parquet file at ``path``."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    boilerplates = [" ".join(_words(rng, vocab, SEG_WORDS)) for _ in range(n_boilerplates)]
    texts: list[str] = []
    dup_ids: set[int] = set()
    junk_ids: set[int] = set()
    clean: list[list[str]] = []
    for doc_id in range(n_docs):
        r = rng.random()
        if r < junk_share:
            junk_ids.add(doc_id)
            if rng.random() < 0.5:
                text = " ".join(_words(rng, vocab, rng.randrange(5, 40)))
            else:
                text = " ".join(str(rng.randrange(10**6)) for _ in range(120))
            texts.append(text)
            continue
        if r < junk_share + dup_share and clean:
            words = list(rng.choice(clean))
            for _ in range(3):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            dup_ids.add(doc_id)
        else:
            words = _words(rng, vocab, SEG_WORDS * rng.randrange(2, 6))
            if rng.random() < boilerplate_share:
                words += rng.choice(boilerplates).split()
            clean.append(words)
        texts.append(_paragraphs(words))
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * n_docs, pa.string()),
        "source": pa.array([f"src{i % 5}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)
    return Corpus(path, n_docs, dup_ids, junk_ids, boilerplates)
