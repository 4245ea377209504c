"""Query families and the seeded query mix of each workload.

A pass runs every family once. ``search_5k`` repeats the same queries
on every pass (fixed query kinds over a 31-word vocabulary).
``search_long`` draws fresh middle and tail terms on every pass, so most
dictionary lookups miss the engine's df cache, as a stream of distinct
user queries would.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from gen import ABSENT_TERM, LANGS, Docs, Vocab, mid_word

# family -> group; per-layer query metrics are reported per group
GROUPS = {
    "single_hot": "single",
    "single_mid": "single",
    "single_rare": "single",
    "k1": "single",
    "or_multi": "multi",
    "and": "multi",
    "fq": "multi",
    "k100": "multi",
    "phrase": "compound",
    "prefix": "compound",
    "boolean": "compound",
    "zero": "zero",
}
GROUP_NAMES = ("single", "multi", "compound", "zero")


@dataclass(frozen=True)
class Query:
    family: str
    terms: tuple[str, ...]  # topk terms; SHOULD terms of a search; the prefix
    call: str = "topk"  # topk | search | prefix
    k: int = 10
    mode: str = "or"  # or | and | phrase (topk only)
    fq_lang: str | None = None
    must: tuple[str, ...] = ()
    must_not: tuple[str, ...] = ()

    @property
    def group(self) -> str:
        return GROUPS[self.family]

    @property
    def text(self) -> str:
        if self.call == "search":
            return " ".join(
                [f"+{t}" for t in self.must] + [f"-{t}" for t in self.must_not] + list(self.terms)
            )
        return " ".join(self.terms)

    def run(self, tables):
        """The engine call under test; returns the un-collected DataFrame."""
        from oni_indexer_spark.query import prefix_topk, search, topk

        if self.call == "prefix":
            return prefix_topk(tables, self.terms[0], k=self.k)
        if self.call == "search":
            return search(tables, self.text, k=self.k)
        fq = {"lang": self.fq_lang} if self.fq_lang else None
        return topk(tables, self.text, k=self.k, mode=self.mode, fq=fq)


def _pick(rng: np.random.Generator, words, n: int = 1) -> list[str]:
    idx = rng.choice(len(words), size=n, replace=False)
    return [words[i] for i in idx]


def small_mix(rng: np.random.Generator, vocab: Vocab, docs: Docs) -> list[Query]:
    """The 12 fixed query kinds of ``search_5k``. Head ids are Zipf
    ranks, so ``vocab.words[:3]`` are the hottest words."""
    w = vocab.words[: vocab.n_head]
    hot, mid, rare = _pick(rng, w[:3])[0], _pick(rng, w[10:16])[0], _pick(rng, w[26:])[0]
    n_or = int(rng.integers(2, 5))
    # a phrase that occurs: two adjacent distinct tokens of a random doc
    while True:
        toks = docs.doc_tokens(int(rng.integers(len(docs))))
        i = int(rng.integers(len(toks) - 1))
        if toks[i] != toks[i + 1]:
            phrase = (vocab.words[toks[i]], vocab.words[toks[i + 1]])
            break
    a, b2 = _pick(rng, w[:10], 2)
    prefix_of = _pick(rng, [x for x in w if len(x) >= 3])[0]
    return [
        Query("single_hot", (hot,)),
        Query("single_mid", (mid,)),
        Query("single_rare", (rare,)),
        Query("k1", (_pick(rng, w)[0],), k=1),
        Query("or_multi", tuple(_pick(rng, w, n_or))),
        Query("and", tuple(_pick(rng, w[5:21], 2)), mode="and"),
        Query("fq", (_pick(rng, w)[0],), fq_lang=LANGS[int(rng.integers(len(LANGS)))]),
        Query("k100", tuple(_pick(rng, w, 2)), k=100),
        Query("phrase", phrase, mode="phrase"),
        Query("prefix", (prefix_of[:2],), call="prefix"),
        Query("boolean", (_pick(rng, w[10:])[0],), call="search", must=(a, b2),
              must_not=(_pick(rng, w[15:26])[0],)),
        Query("zero", (ABSENT_TERM,)),
    ]


class LargeMix:
    """Fresh-term query passes for ``search_long``: every pass draws new
    middle words (Zipf ranks 50-500, df in the thousands) and new tail
    identifiers taken from the corpus itself (df 1-3)."""

    def __init__(self, rng: np.random.Generator, vocab: Vocab, docs: Docs):
        self.rng = rng
        self.vocab = vocab
        first_tail = vocab.n_head + vocab.n_mid
        tail = np.unique(docs.tokens[docs.tokens >= first_tail])
        self.tail = [vocab.words[t] for t in rng.permutation(tail)]
        self.mid = [mid_word(i) for i in rng.permutation(np.arange(50, 500))]
        self.passes = 0

    def _tail(self) -> str:
        return self.tail.pop()

    def _mid(self) -> str:
        return self.mid.pop()

    def next_pass(self) -> list[Query]:
        rng, w = self.rng, self.vocab.words[: self.vocab.n_head]
        p = self.passes
        self.passes += 1
        n_or = int(rng.integers(2, 5))
        or_terms = [_pick(rng, w[:10])[0], self._tail(), self._mid(), self._mid()][:n_or]
        return [
            Query("single_hot", (w[p % 3],)),
            Query("single_mid", (self._mid(),)),
            Query("single_rare", (self._tail(),)),
            Query("k1", (self._mid(),), k=1),
            Query("or_multi", tuple(or_terms)),
            Query("and", (_pick(rng, w[:6])[0], self._mid()), mode="and"),
            Query("fq", (_pick(rng, w[:10])[0], self._tail()),
                  fq_lang=LANGS[int(rng.integers(len(LANGS)))]),
            Query("k100", (*_pick(rng, w[:10], 2), self._tail()), k=100),
            Query("prefix", (self._mid()[:4],), call="prefix"),
            Query("boolean", (self._tail(),), call="search",
                  must=(_pick(rng, w[:6])[0], self._mid()), must_not=(self._mid(),)),
            Query("zero", (f"{ABSENT_TERM}_{p}",)),
        ]
