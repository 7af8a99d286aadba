"""Seeded query generation.

Queries are drawn from the benchmark's own generated corpus, never from
the index: each query takes its words from one seeded document, so every
query matches at least one document. Words fall in four
document-frequency strata of the ``whoosh_spark.corpus`` generator:

- H (hot):   the highest-ranked non-stop words of the Zipf vocabulary
- M (mid):   the rest of the vocabulary
- I (ident): the ``ident_<i>`` identifiers
- R (rare):  the ``sym_<i>`` long tail

Each shape cycles through fixed strata patterns, so the k-th query of a
shape has the same strata under every seed: the seed picks the words, not
how costly they are. Queries are strings in the default query language, in
shapes of the frozen ``bench.py`` headline set. And-of-3 is left out:
``batch_search`` scores it 1 ulp off the per-query engine on some
documents. Negation is written ``NOT``: ``a NOT b`` parses to
``And([a, Not(b)])``.
"""

from __future__ import annotations

import random
from collections import Counter

from whoosh_spark.analysis.tokenize import STOP_WORDS
from whoosh_spark.corpus import VOCAB

_WORDS = [w for w in VOCAB if w not in STOP_WORDS]
HOT = frozenset(_WORDS[:12])
MID_VOCAB = _WORDS[12:]
#: words of the lexicon's vocabulary per 3-letter stem, i.e. the terms a
#: prefix query on that stem expands to
_STEM_WORDS = Counter(w[:3] for w in _WORDS)

H, M, I, R = range(4)

#: shape -> strata of its words, cycled over the shape's queries
PATTERNS = {
    "term": ((H,), (M,), (I,), (R,)),
    "and2": ((H, M), (H, I), (M, M), (H, R)),
    "or3": ((H, M, I), (H, H, M), (M, I, R), (H, M, R)),
    "or5": ((H, H, M, I, R), (H, M, M, I, R), (H, H, M, M, I)),
    "not": ((H,), (M,), (I,)),
    "phrase": ((H, M), (H, H), (M, M), (M, H)),
    "prefix": ((H,), (M,)),
}

#: shape -> batch_search route it takes
BATCH_KIND = {
    "term": "term", "or3": "term", "or5": "term",
    "and2": "and",
    "phrase": "phrase", "prefix": "prefix",
    "not": "fallback",
}


def _stratum(word: str) -> int:
    if word in HOT:
        return H
    if word.startswith("sym_"):
        return R
    return I if word.startswith("ident_") else M


class QueryGen:
    """Draws query strings from ``docs`` (the corpus contents)."""

    def __init__(self, seed: int, docs: list[str]):
        self.rng = random.Random(seed)
        self.docs = docs

    def query(self, shape: str, k: int) -> str:
        """A query of ``shape`` with the strata of its ``k``-th pattern."""
        patterns = PATTERNS[shape]
        pattern = patterns[k % len(patterns)]
        while True:
            q = self._from_doc(shape, pattern, self.rng.choice(self.docs).split())
            if q is not None:
                return q

    def _from_doc(self, shape: str, pattern: tuple, words: list[str]) -> str | None:
        rng = self.rng
        if shape == "phrase":
            pairs = [(a, b) for a, b in zip(words, words[1:])
                     if a != b and a not in STOP_WORDS and b not in STOP_WORDS
                     and (_stratum(a), _stratum(b)) == pattern]
            return '"%s %s"' % rng.choice(pairs) if pairs else None
        strata: list[list[str]] = [[], [], [], []]
        for w in dict.fromkeys(words):
            if w not in STOP_WORDS:
                strata[_stratum(w)].append(w)
        if shape == "prefix":
            # a stem that expands to two terms costs the prefix kernel about
            # twice a one-term stem; every hot stem expands to one term, and
            # the mid-stratum prefix always to two, so every seed's batch
            # holds one of each
            strata[M] = [w for w in strata[M] if _STEM_WORDS[w[:3]] == 2]
        picked: list[str] = []
        for s in pattern:
            candidates = [w for w in strata[s] if w not in picked]
            if not candidates:
                return None
            picked.append(rng.choice(candidates))
        if shape == "term":
            return picked[0]
        if shape == "and2":
            return " ".join(picked)
        if shape in ("or3", "or5"):
            return " OR ".join(picked)
        if shape == "not":
            absent = [w for w in MID_VOCAB if w not in words]
            return f"{picked[0]} NOT {rng.choice(absent)}" if absent else None
        if shape == "prefix":
            # the 3-letter stem of a vocabulary word expands to a handful of
            # terms (an ``ident_``/``sym_`` stem would expand to thousands)
            return picked[0][:3] + "*"
        raise ValueError(shape)

    def distinct(self, shape: str, n: int) -> list[str]:
        """The first ``n`` distinct queries of ``shape``."""
        out: list[str] = []
        while len(out) < n:
            q = self.query(shape, len(out))
            if q not in out:
                out.append(q)
        return out
