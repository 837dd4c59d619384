"""Seeded inputs.  The program sees only what these functions return.

The corpus has the shape of the repository's ``documents`` fixture
(FIXTURES.md): word salad over the fixture's 30-word vocabulary, target
lengths uniform in the fixture's 44-577 character range, 20 sources.
Vectors have the shape of the ``embeddings`` fixture: 64-dimensional
float32, label 0-9.  Everything derives from one ``random.Random`` /
``numpy`` generator per purpose, keyed by the run seed, so a seed
always yields the same inputs.
"""

from __future__ import annotations

import random

import numpy as np

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
MIN_CHARS, MAX_CHARS = 44, 577
N_SOURCES = 20
DIM = 64


def _doc(rng: random.Random) -> str:
    target = rng.randint(MIN_CHARS, MAX_CHARS)
    words: list[str] = []
    size = -1
    while size < target:
        w = rng.choice(VOCAB)
        words.append(w)
        size += len(w) + 1
    return " ".join(words)


def corpus(seed: int, n: int, first_id: int = 0) -> list[tuple[int, str, str]]:
    """``n`` documents as (doc_id, source, text)."""
    rng = random.Random(f"corpus/{seed}/{first_id}")
    return [
        (first_id + i, f"src{(first_id + i) % N_SOURCES}", _doc(rng))
        for i in range(n)
    ]


def queries(seed: int, docs: list[tuple[int, str, str]], n: int) -> list[str]:
    """``n`` 8-word windows of seeded documents (documents shorter than
    8 words are skipped)."""
    rng = random.Random(f"queries/{seed}")
    long_docs = [d for d in docs if len(d[2].split()) >= 8]
    out = []
    for _ in range(n):
        words = rng.choice(long_docs)[2].split()
        at = rng.randrange(len(words) - 7)
        out.append(" ".join(words[at : at + 8]))
    return out


def planted_text_dups(
    seed: int, docs: list[tuple[int, str, str]], n: int, first_id: int
) -> tuple[list[tuple[int, str, str]], list[tuple[int, int]]]:
    """``n`` perturbed copies of seeded documents of at least 40 words:
    one word in 20 is replaced by a different vocabulary word.  Returns
    the copies and the planted (original_id, copy_id) pairs."""
    rng = random.Random(f"dups/{seed}")
    pool = [d for d in docs if len(d[2].split()) >= 40]
    copies, pairs = [], []
    for i, (doc_id, source, text) in enumerate(rng.sample(pool, n)):
        words = text.split()
        for at in rng.sample(range(len(words)), len(words) // 20):
            words[at] = rng.choice([w for w in VOCAB if w != words[at]])
        copies.append((first_id + i, source, " ".join(words)))
        pairs.append((doc_id, first_id + i))
    return copies, pairs


def vectors(seed: int, n: int, n_dups: int) -> tuple[np.ndarray, list[tuple[int, int]]]:
    """``n`` random 64-d float32 vectors followed by ``n_dups`` noisy
    copies (cosine ~0.99 to their original).  Returns the matrix (row =
    vec_id) and the planted (original_id, copy_id) pairs."""
    gen = np.random.default_rng([seed, 7])
    base = gen.standard_normal((n, DIM))
    src = gen.choice(n, size=n_dups, replace=False)
    noise = gen.standard_normal((n_dups, DIM)) * 0.14
    mat = np.vstack([base, base[src] + noise]).astype(np.float32)
    return mat, [(int(s), n + i) for i, s in enumerate(src)]
