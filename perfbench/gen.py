"""Seeded corpus and query generator for the benchmark.

The engine only ever sees what this module writes: a ``documents``
parquet file ``(doc_id, repo, path, lang, content)`` and query strings.
Nothing here imports the engine, so a change to program code cannot
change a workload.

Every generated token matches ``[a-z0-9_]+`` and tokens are separated by
single spaces, so the engine's ``code`` analyzer yields exactly the
token-id arrays kept here: term frequencies and document lengths are
known without tokenizing (see ``reference.py``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

# Head words: the stop-word-like Zipf head of every corpus.
HEAD_WORDS = (
    "the", "scan", "join", "hash", "sort", "merge", "table", "order",
    "batch", "stream", "window", "key", "part", "spark", "small", "fast",
    "value", "index", "query", "term",
)
# Extra words of the small corpus (31 words in all, as the repo's
# 5k-doc sf0.1 test corpus has).
SMALL_EXTRA = (
    "line", "column", "slow", "group", "agg", "filter", "big", "data",
    "vector", "customer", "a",
)
LANGS = ("en", "fr", "es", "zh", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
# Absent from every corpus: the zero-result query term.
ABSENT_TERM = "zzz_absent_term"

_SYLLABLES = (
    "ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "ze",
    "bo", "da", "fe", "gi", "ju", "ha", "ne", "po", "ru", "ti",
)


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of a generated corpus. Token kinds: ``head`` (Zipf over
    ``head`` words), ``mid`` (Zipf over ``mid_size`` syllable words) and
    ``tail`` (uniform over ``tail_space`` identifiers, so most occur in
    one or two docs)."""

    n_docs: int
    len_lo: int
    len_hi: int
    head: tuple[str, ...] = HEAD_WORDS
    head_zipf: float = 1.0
    head_share: float = 1.0
    mid_size: int = 0
    mid_zipf: float = 1.1
    mid_share: float = 0.0
    tail_space: int = 0


# The sf0.1 test corpus shape: 5,000 docs, ~55 tokens each, 31 words.
SMALL = CorpusSpec(n_docs=5_000, len_lo=5, len_hi=104, head=HEAD_WORDS + SMALL_EXTRA,
                   head_zipf=0.6)


def large_spec(n_docs: int) -> CorpusSpec:
    """20-400 tokens per doc: a ~20-word Zipf head, a 5,000-word Zipf
    middle and a long tail of identifier tokens."""
    return CorpusSpec(
        n_docs=n_docs, len_lo=20, len_hi=400, head_share=0.30,
        mid_size=5_000, mid_share=0.55, tail_space=max(4 * n_docs, 1),
    )


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def mid_word(i: int) -> str:
    """i-th middle word: three syllables, e.g. ``kalomi``."""
    a, r = divmod(i, 400)
    b, c = divmod(r, 20)
    return _SYLLABLES[a % 20] + _SYLLABLES[b] + _SYLLABLES[c]


def tail_word(j: int) -> str:
    return f"id_{j:x}"


class Vocab:
    """Term id <-> string. Ids: head, then mid, then tail."""

    def __init__(self, spec: CorpusSpec):
        self.n_head = len(spec.head)
        self.n_mid = spec.mid_size
        self.words = list(spec.head) + [mid_word(i) for i in range(spec.mid_size)]
        self.words += [tail_word(j) for j in range(spec.tail_space)]
        self.index = {w: i for i, w in enumerate(self.words)}
        self.arr = np.array(self.words, dtype=object)


@dataclass
class Docs:
    """A batch of documents as token-id arrays (CSR by doc)."""

    doc_ids: np.ndarray  # int64, ascending
    offsets: np.ndarray  # int64, len n+1
    tokens: np.ndarray  # int32 term ids
    lang: np.ndarray  # int8 index into LANGS

    def __len__(self) -> int:
        return len(self.doc_ids)

    def doc_tokens(self, i: int) -> np.ndarray:
        return self.tokens[self.offsets[i] : self.offsets[i + 1]]

    def dl(self) -> np.ndarray:
        return np.diff(self.offsets)


def make_docs(spec: CorpusSpec, rng: np.random.Generator, doc_ids: np.ndarray) -> Docs:
    n = len(doc_ids)
    lens = rng.integers(spec.len_lo, spec.len_hi + 1, size=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    kind = rng.random(total)
    toks = rng.choice(len(spec.head), size=total, p=_zipf_p(len(spec.head), spec.head_zipf))
    toks = toks.astype(np.int32)
    if spec.mid_size:
        is_mid = kind >= spec.head_share
        mid = rng.choice(spec.mid_size, size=int(is_mid.sum()), p=_zipf_p(spec.mid_size, spec.mid_zipf))
        toks[is_mid] = len(spec.head) + mid
    if spec.tail_space:
        is_tail = kind >= spec.head_share + spec.mid_share
        tail = rng.integers(0, spec.tail_space, size=int(is_tail.sum()))
        toks[is_tail] = len(spec.head) + spec.mid_size + tail
    lang = rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS).astype(np.int8)
    return Docs(np.asarray(doc_ids, dtype=np.int64), offsets, toks, lang)


def write_parquet(docs: Docs, vocab: Vocab, path: str) -> int:
    """Write ``docs`` as the engine's input table; returns the number of
    ``content`` bytes written (UTF-8, all ASCII)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    words = vocab.arr[docs.tokens]
    content = [
        " ".join(words[docs.offsets[i] : docs.offsets[i + 1]]) for i in range(len(docs))
    ]
    ids = docs.doc_ids
    table = pa.table(
        {
            "doc_id": pa.array(ids, type=pa.int64()),
            "repo": pa.array([f"repo{i % 97:03d}" for i in ids]),
            "path": pa.array([f"src/d{i % 13}/f{i}.txt" for i in ids]),
            "lang": pa.array(np.array(LANGS, dtype=object)[docs.lang]),
            "content": pa.array(content, type=pa.string()),
        }
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, len(docs) // 8))
    return sum(len(c) for c in content)
