"""Expected answers, computed independently of every timed route.

The reference scorer shares only the tokenizer with the engine (token
identity is the contract); postings, df, avgdl and BM25 are plain dicts and
loops here. Query sets are drawn from the built dictionary with a seeded
RNG, in fixed proportions of hot, mid and rare terms, so every seed sends
the same shape of traffic.
"""

from __future__ import annotations

import math
import random
from collections import Counter

from spidey_search_engine_spark.functions.analysis import (PROFILES,
                                                           analyze_query)

K1, B = 1.2, 0.75

REFERENCE_QUERIES = ("merge sort", "sorting algorithms")

# query shapes, cycled in order: single hot/mid/rare terms, mixed bags and
# the reference harness's own queries
SHAPES = (("hot",), ("mid",), ("rare",), ("hot", "mid"), ("mid", "rare"),
          ("hot", "mid", "rare"), ("ref",))


def query_terms(text: str) -> list[str]:
    words, phrases = analyze_query(text)
    for p in phrases:
        words.extend(p)
    return words


class Bm25Oracle:
    """Brute-force BM25 (k1=1.2, b=0.75, idf=ln((N-df+.5)/(df+.5)+1)) over
    an append-only doc set."""

    def __init__(self, profile: str = "code"):
        self._tokenize = PROFILES[profile]
        self.postings: dict[str, dict[int, int]] = {}
        self.dl: dict[int, int] = {}
        self.total_len = 0

    def add(self, doc_id: int, content: str) -> None:
        toks = self._tokenize(content)
        self.dl[doc_id] = len(toks)
        self.total_len += len(toks)
        for t, tf in Counter(toks).items():
            self.postings.setdefault(t, {})[doc_id] = tf

    @property
    def n_docs(self) -> int:
        return len(self.dl)

    def df(self) -> dict[str, int]:
        return {t: len(p) for t, p in self.postings.items()}

    def scores(self, text: str) -> dict[int, float]:
        n, avgdl = self.n_docs, self.total_len / self.n_docs
        out: dict[int, float] = {}
        for w in query_terms(text):
            p = self.postings.get(w)
            if not p:
                continue
            idf = math.log((n - len(p) + 0.5) / (len(p) + 0.5) + 1)
            for d, tf in p.items():
                out[d] = out.get(d, 0.0) + idf * tf * (K1 + 1) / (
                    tf + K1 * (1 - B + B * self.dl[d] / avgdl))
        return out


def topk_ok(got: list[tuple[int, float]], expected: dict[int, float],
            k: int) -> bool:
    """`got` is a correct top-k: the right length, distinct docs, each
    doc's score equal to its reference score, and rank i's score equal to
    the reference's i-th best. Docs tied on score may come in any order."""
    best = sorted(expected.values(), reverse=True)[:k]
    if len(got) != len(best) or len({d for d, _ in got}) != len(got):
        return False
    for (doc, score), want in zip(got, best):
        ref = expected.get(doc)
        if ref is None or not math.isclose(score, ref, rel_tol=1e-9):
            return False
        if not math.isclose(score, want, rel_tol=1e-9):
            return False
    return True


def term_classes(df: dict[str, float], n_docs: int) -> dict[str, list[str]]:
    """Dictionary terms the query analyzer maps to themselves, split by
    document frequency."""
    usable = sorted(t for t in df if query_terms(t) == [t])
    return {
        "hot": [t for t in usable if df[t] >= 0.2 * n_docs],
        "mid": [t for t in usable if 0.01 * n_docs <= df[t] < 0.2 * n_docs],
        "rare": [t for t in usable if 2 <= df[t] < 0.01 * n_docs],
    }


def query_mix(classes: dict[str, list[str]], seed, n: int) -> list[str]:
    rng = random.Random(seed)
    out = []
    for i in range(n):
        shape = SHAPES[i % len(SHAPES)]
        if shape == ("ref",):
            out.append(REFERENCE_QUERIES[(i // len(SHAPES)) % 2])
            continue
        terms: list[str] = []
        for cls in shape:
            terms.append(rng.choice([t for t in classes[cls]
                                     if t not in terms]))
        out.append(" ".join(terms))
    return out
