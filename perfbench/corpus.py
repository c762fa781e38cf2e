"""Seeded corpus generator and the independent tokenizer oracle.

The generator writes a `<collection>/<doc>.txt` tree shaped like the
reference's `data/` directory. Word ranks follow a Zipf law (s = 1.1)
over a generated vocabulary, and the surface text injects uppercase,
punctuation, digits, tabs and newlines so that every tokenizer rule
fires. The oracle recounts the text with plain Python, written from
the rules alone and sharing no code with the library:

1. split on space and newline only (a tab does not split a token);
2. lowercase;
3. delete every character outside ``[a-z]``;
4. drop empty tokens.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import numpy as np

ZIPF_S = 1.1
VOCAB_SIZE = 50_000
VOCAB_SEED = 20_260_817
_ALPHA = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
_NON_ALPHA = re.compile(r"[^a-z]")
_PUNCT = [",", ".", "!", "?", ";", ":", "'", '"', "-", "(", ")"]


def tokens(text: str) -> list[str]:
    """The tokenizer rules, recounted independently of the library."""
    out = []
    for raw in re.split(r"[ \n]", text):
        word = _NON_ALPHA.sub("", raw.lower())
        if word:
            out.append(word)
    return out


def doc_counts(text: str) -> Counter:
    return Counter(tokens(text))


def letter_of(n: int) -> str:
    """Spell a non-negative integer with letters only (a, b, ..., ba, ...)."""
    s = ""
    while True:
        s = chr(ord("a") + n % 26) + s
        n //= 26
        if n == 0:
            return s


def _noisy(w: str, k: float) -> str:
    """One surface form per rule: case, punctuation, apostrophe, digits,
    a bare number, a tab (not a separator) and a hyphen."""
    if k < 0.04:
        return w.capitalize()
    if k < 0.05:
        return w.upper()
    if k < 0.08:
        return w + _PUNCT[int(k * 1000) % len(_PUNCT)]
    if k < 0.085:
        return w[:1] + "'" + w[1:].upper()
    if k < 0.09:
        return w + str(int(k * 10_000) % 97)
    if k < 0.095:
        return str(int(k * 100_000) % 1000)
    if k < 0.10:
        return w + "\t"
    return w + "-"


class Generator:
    """Deterministic text source: the same seed gives the same bytes."""

    def __init__(self, seed: int):
        # One fixed vocabulary (the corpus "language"); the seed draws the
        # documents from it.
        self.rng = np.random.default_rng(VOCAB_SEED)
        self.vocab = self._vocabulary(VOCAB_SIZE)
        self._vocab_array = np.array(self.vocab, dtype=object)
        self.rng = np.random.default_rng(seed)
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        cdf = np.cumsum(ranks ** -ZIPF_S)
        self._cdf = cdf / cdf[-1]

    def _vocabulary(self, n: int) -> list[str]:
        words: set[str] = set()
        ordered: list[str] = []
        while len(ordered) < n:
            lengths = self.rng.integers(3, 11, size=n)
            letters = self.rng.choice(_ALPHA, size=(n, 10))
            for length, row in zip(lengths, letters):
                w = row[:length].tobytes().decode()
                if w not in words:
                    words.add(w)
                    ordered.append(w)
                    if len(ordered) == n:
                        break
        return ordered

    def ranks(self, n: int, rng: np.random.Generator | None = None) -> np.ndarray:
        """`n` Zipf-distributed vocabulary ranks (0 = most frequent)."""
        return np.searchsorted(self._cdf, (self.rng if rng is None else rng).random(n))

    def text(self, n_bytes: int) -> str:
        """About `n_bytes` of text. Most tokens are plain words; about one
        in ten carries the noise that some tokenizer rule has to handle."""
        n = max(8, n_bytes // 7)
        words = self._vocab_array[self.ranks(n)]
        kind = self.rng.random(n)
        for i in np.flatnonzero(kind < 0.105):
            words[i] = _noisy(words[i], kind[i])
        out = np.empty(2 * n, dtype=object)
        out[0::2] = words
        out[1::2] = np.where(kind > 0.985, "\n", " ")
        return "".join(out)

    def documents(self, n_docs: int, min_bytes: int, max_bytes: int) -> list[str]:
        """`n_docs` texts whose sizes are spread evenly over [min, max] in a
        seeded order, so that every seed yields the same total volume."""
        sizes = self.rng.permutation(np.linspace(min_bytes, max_bytes, n_docs))
        return [self.text(int(size)) for size in sizes]


def write_tree(root: str, texts: dict, n_collections: int) -> dict:
    """Write {doc_id: text} as `root/collection<i>/<doc_id>.txt`, dealt
    round-robin over the collections. Returns {doc_id: Counter}."""
    oracle = {}
    for i, (doc_id, body) in enumerate(texts.items()):
        coll = os.path.join(root, f"collection{i % n_collections}")
        os.makedirs(coll, exist_ok=True)
        with open(os.path.join(coll, doc_id + ".txt"), "w") as f:
            f.write(body)
        oracle[doc_id] = doc_counts(body)
    return oracle


def postings(oracle: dict) -> dict:
    """{word: {doc_id: cnt}} from a {doc_id: Counter} oracle."""
    out: dict = {}
    for doc, counts in oracle.items():
        for w, c in counts.items():
            out.setdefault(w, {})[doc] = c
    return out


def letter_stats(index: dict) -> dict:
    """{letter: (total_cnt, n_words, n_docs)} over a postings oracle."""
    acc: dict = {}
    for w, docs in index.items():
        st = acc.setdefault(w[0], [0, 0, set()])
        st[0] += sum(docs.values())
        st[1] += 1
        st[2].update(docs)
    return {k: (total, words, len(docs)) for k, (total, words, docs) in acc.items()}
