"""Driver-side reference computations the benchmark checks outputs
against.  Each is written from the operator's documented contract, not
from its implementation."""

from __future__ import annotations

import numpy as np

from vector_db_ingestor_spark.operators.dedup import fnv1a64_ref

EPS = 1e-9


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams of the lowercased whitespace tokens
    (``operators.dedup.word_shingles``)."""
    toks = text.strip().lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def simhash(text: str) -> int:
    """64-bit SimHash over FNV-1a token hashes, as an unsigned int: bit
    b is set iff more than half of the tokens have bit b set."""
    hashes = [fnv1a64_ref(t) for t in text.lower().split()]
    fp = 0
    for b in range(64):
        if 2 * sum((h >> b) & 1 for h in hashes) > len(hashes):
            fp |= 1 << b
    return fp


def hamming(a: int, b: int) -> int:
    return bin((a ^ b) & (2**64 - 1)).count("1")


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


class ExactIndex:
    """Exact cosine top-k over the collection's own vectors, in numpy."""

    def __init__(self, ids: list[str], vecs: np.ndarray):
        self.ids = np.asarray(ids)
        self.pos = {u: i for i, u in enumerate(ids)}
        norms = np.linalg.norm(vecs, axis=1, keepdims=True)
        self.unit = vecs / np.where(norms > 0, norms, 1.0)

    def scores(self, probe) -> np.ndarray:
        q = np.asarray(probe, dtype=np.float64)
        n = np.linalg.norm(q)
        return self.unit @ (q / n if n > 0 else q)

    def hits(self, probe, got_ids: list[str], k: int) -> int:
        """Tie-safe hit count: a returned id is a hit when its exact
        score reaches the k-th best exact score (minus EPS), so any
        member of a tie at the k-th place counts."""
        s = self.scores(probe)
        kth = np.partition(s, -k)[-k] if len(s) >= k else s.min()
        return sum(
            1 for u in set(got_ids) if u in self.pos and s[self.pos[u]] >= kth - EPS
        )

    def top_texts_ok(self, probe, context: str, texts: dict[str, str]) -> bool:
        """The RAG context must quote a chunk tied for the best exact
        score."""
        s = self.scores(probe)
        best = s.max()
        tied = self.ids[s >= best - EPS]
        return any(texts[u] in context for u in tied)
