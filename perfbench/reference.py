"""Exact BM25 reference built from the generator's own term counts.

Every generated token is one vocabulary id, so term frequencies and
document lengths come straight from the token-id arrays: no tokenizer,
no Spark, no engine code. The scoring rules are the engine's documented
contract (Lucene BM25, k1=1.2, b=0.75, ``idf = ln(1 + (N - df + 0.5) /
(df + 0.5))``, rank by rounded score desc then doc_id asc, fq filters the
result set only); phrase frequencies come from the token sequence
itself. ``test_smoke.py`` cross-checks this reference against the DuckDB
oracle builders on a generated corpus.
"""

from __future__ import annotations

import numpy as np

from gen import LANGS, Docs, Vocab

K1, B = 1.2, 0.75
PREFIX_MAX_TERMS = 128
PREFIX_SCORING_MAX_TERMS = 16


class _Segment:
    """Term-sorted postings of one batch of documents."""

    def __init__(self, docs: Docs):
        n = len(docs)
        lens = docs.dl()
        pos = np.repeat(np.arange(n, dtype=np.int64), lens)
        keys, tf = np.unique(docs.tokens.astype(np.int64) * n + pos, return_counts=True)
        self.term = keys // n
        self.pos = keys % n
        self.tf = tf
        self.docs = docs
        self.doc_ids = docs.doc_ids
        self.dl = lens
        self.lang = docs.lang
        self.alive = np.ones(n, dtype=bool)

    def postings(self, tid: int):
        lo, hi = np.searchsorted(self.term, [tid, tid + 1])
        pos = self.pos[lo:hi]
        live = self.alive[pos]
        pos = pos[live]
        return self.doc_ids[pos], self.tf[lo:hi][live], self.dl[pos], self.lang[pos]

    def phrase_freq(self, tids: list[int]):
        """(doc positions, phrase frequency) of live docs holding the
        exact token sequence ``tids``."""
        toks, m = self.docs.tokens, len(tids)
        n_start = len(toks) - m + 1
        if n_start <= 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        hit = np.ones(n_start, dtype=bool)
        for j, t in enumerate(tids):
            hit &= toks[j : j + n_start] == t
        doc_of = np.repeat(np.arange(len(self.dl)), self.dl)
        starts = np.nonzero(hit)[0]
        starts = starts[doc_of[starts] == doc_of[starts + m - 1]]
        pf = np.bincount(doc_of[starts], minlength=len(self.dl))
        pos = np.nonzero((pf > 0) & self.alive)[0]
        return pos, pf[pos]


class Reference:
    """The corpus as the engine should see it after every write."""

    def __init__(self, vocab: Vocab):
        self.vocab = vocab
        self.segments: list[_Segment] = []

    def add(self, docs: Docs) -> None:
        self.segments.append(_Segment(docs))

    def delete(self, doc_ids) -> None:
        ids = np.asarray(doc_ids, dtype=np.int64)
        for s in self.segments:
            s.alive &= ~np.isin(s.doc_ids, ids)

    def stats(self) -> tuple[int, float]:
        n = sum(int(s.alive.sum()) for s in self.segments)
        tot = sum(int(s.dl[s.alive].sum()) for s in self.segments)
        return n, tot / n

    def _tid(self, term: str) -> int | None:
        return self.vocab.index.get(term)

    def postings(self, term: str):
        tid = self._tid(term)
        parts = [s.postings(tid) for s in self.segments] if tid is not None else []
        if not parts:
            e = np.empty(0, dtype=np.int64)
            return e, e, e, e.astype(np.int8)
        return tuple(np.concatenate(c) for c in zip(*parts))

    def df(self, term: str) -> int:
        return len(self.postings(term)[0])

    def live_terms(self) -> dict[str, int]:
        """term -> df over live docs (df > 0 only)."""
        counts: dict[int, int] = {}
        for s in self.segments:
            t = s.term[s.alive[s.pos]]
            u, c = np.unique(t, return_counts=True)
            for tid, cnt in zip(u.tolist(), c.tolist()):
                counts[tid] = counts.get(tid, 0) + cnt
        return {self.vocab.words[t]: c for t, c in counts.items()}

    # --- scoring -------------------------------------------------------

    def scores(self, weights: dict[str, float], require_all: bool = False):
        """(doc_ids, scores, langs) of the docs matching the weighted OR
        (or AND with ``require_all``) over ``weights``."""
        n, avgdl = self.stats()
        ids, sc, langs = [], [], []
        for term, w in weights.items():
            d, tf, dl, lang = self.postings(term)
            if len(d) == 0:
                continue
            df = len(d)
            idf = np.log(1.0 + (n - df + 0.5) / (df + 0.5))
            tfn = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
            ids.append(d)
            sc.append(w * idf * tfn)
            langs.append(lang)
        if not ids:
            e = np.empty(0, dtype=np.int64)
            return e, np.empty(0), e.astype(np.int8)
        ids_c = np.concatenate(ids)
        u, inv = np.unique(ids_c, return_inverse=True)
        total = np.bincount(inv, weights=np.concatenate(sc), minlength=len(u))
        lang_u = np.empty(len(u), dtype=np.int8)
        lang_u[inv] = np.concatenate(langs)
        if require_all:
            cnt = np.bincount(inv, minlength=len(u))
            keep = cnt == len(weights)
            u, total, lang_u = u[keep], total[keep], lang_u[keep]
        return u, total, lang_u

    def answer(self, q) -> list[tuple[int, float]]:
        """Reference top-k for a :class:`queries.Query`."""
        if q.call == "prefix":
            return self._prefix(q)
        if q.call == "search":
            return self._boolean(q)
        if q.mode == "phrase":
            return self._phrase(q)
        terms = dict.fromkeys(q.terms, 1.0)
        if q.mode == "and" and any(self.df(t) == 0 for t in terms):
            return []
        ids, sc, lang = self.scores(terms, require_all=q.mode == "and")
        return _rank(ids, sc, lang, q.k, q.fq_lang)

    def _phrase(self, q) -> list[tuple[int, float]]:
        """Lucene PhraseQuery: score = (sum of the query positions' idf)
        * tfn(phrase frequency, dl)."""
        tids = [self._tid(t) for t in q.terms]
        if any(t is None or self.df(w) == 0 for t, w in zip(tids, q.terms)):
            return []
        n, avgdl = self.stats()
        w = sum(np.log(1.0 + (n - df + 0.5) / (df + 0.5)) for df in map(self.df, q.terms))
        ids, sc, lang = [], [], []
        for s in self.segments:
            pos, pf = s.phrase_freq(tids)
            ids.append(s.doc_ids[pos])
            sc.append(w * pf * (K1 + 1.0) / (pf + K1 * (1.0 - B + B * s.dl[pos] / avgdl)))
            lang.append(s.lang[pos])
        return _rank(np.concatenate(ids), np.concatenate(sc), np.concatenate(lang), q.k, q.fq_lang)

    def _prefix(self, q) -> list[tuple[int, float]]:
        live = self.live_terms()
        exp = sorted(
            ((t, d) for t, d in live.items() if t.startswith(q.terms[0])),
            key=lambda td: (-td[1], td[0]),
        )[:PREFIX_MAX_TERMS]
        if not exp:
            return []
        if len(exp) <= PREFIX_SCORING_MAX_TERMS:
            ids, sc, lang = self.scores({t: 1.0 for t, _ in exp})
            return _rank(ids, sc, lang, q.k, q.fq_lang)
        ids, _, _ = self.scores({t: 1.0 for t, _ in exp})
        return [(int(d), 1.0) for d in ids[: q.k]]

    def _boolean(self, q) -> list[tuple[int, float]]:
        must = dict.fromkeys(q.must, 1.0)
        should = dict.fromkeys(q.terms, 1.0)
        if must:
            if any(self.df(t) == 0 for t in must):
                return []
            ids, sc, lang = self.scores(must, require_all=True)
            if should:
                s_ids, s_sc, _ = self.scores(should)
                add = np.zeros(len(ids))
                hit = np.isin(ids, s_ids)
                add[hit] = s_sc[np.searchsorted(s_ids, ids[hit])]
                sc = sc + add
        else:
            ids, sc, lang = self.scores(should)
        for t in q.must_not:
            keep = ~np.isin(ids, self.postings(t)[0])
            ids, sc, lang = ids[keep], sc[keep], lang[keep]
        return _rank(ids, sc, lang, q.k, q.fq_lang)


def _rank(ids, sc, lang, k: int, fq_lang: str | None) -> list[tuple[int, float]]:
    if fq_lang is not None:
        keep = lang == LANGS.index(fq_lang)
        ids, sc = ids[keep], sc[keep]
    order = np.lexsort((ids, -np.round(sc, 6)))[:k]
    return [(int(ids[i]), float(sc[i])) for i in order]


def same_answer(got, want, tol: float = 1e-5) -> bool:
    """``got`` and ``want`` are ranked ``[(doc_id, score)]`` lists. They
    agree when the score sequences match within ``tol`` and every doc
    that differs is tied (within ``tol``) with the reference score at
    its rank — the only freedom a top-k cut at equal scores leaves."""
    if len(got) != len(want):
        return False
    if len({d for d, _ in got}) != len(got):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if abs(gs - ws) > tol * max(1.0, abs(ws)):
            return False
    want_ids = {d for d, _ in want}
    extra = [s for d, s in got if d not in want_ids]
    if extra:
        cut = want[-1][1]
        return all(abs(s - cut) <= tol * max(1.0, abs(cut)) for s in extra)
    return True
