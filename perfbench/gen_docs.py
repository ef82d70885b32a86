"""Seeded synthetic corpus with planted exact and near duplicates.

Each shard holds base documents, low-quality junk documents, exact
copies of base documents (re-spaced, so only the whitespace-normalized
fingerprint matches) and near copies (a few single-word
substitutions, 3-shingle Jaccard >= 0.8 to their source). The planted
sets and the expected quality-gate outcome are computed here in plain
Python, independent of the engine.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
QUALITY_MIN = 0.3
WORDS_PER_DOC = 90  # a document has WORDS_PER_DOC - 20 to WORDS_PER_DOC + 19 words
_WS = re.compile(r"\s+")


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    words -= set(STOPWORDS)
    return np.array(sorted(words))


def quality_score(text: str) -> float:
    """Plain-Python twin of ``functions.text.quality_score``."""
    toks = _WS.split(text)
    n_tok = float(len(toks))
    length_term = min(n_tok / 200.0, 1.0)
    punct_ratio = sum(text.count(c) for c in ".,!?;:") / max(len(text), 1)
    stop_ratio = sum(t in STOPWORDS for t in toks) / max(n_tok, 1.0)
    return 0.5 * length_term + 0.3 * min(stop_ratio * 3, 1.0) + 0.2 * (1.0 - min(punct_ratio * 10, 1.0))


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


@dataclass
class Shard:
    ids: list[int]
    texts: list[str]
    low_quality: set[int] = field(default_factory=set)
    exact_copies: set[int] = field(default_factory=set)  # ids of planted copies
    # near pairs as exact dedup leaves them: the source side is the
    # surviving (lowest) id of the source's exact-duplicate group
    near_pairs: set[tuple[int, int]] = field(default_factory=set)

    @property
    def expected_kept(self) -> int:
        """Docs left after the quality gate and exact dedup."""
        return len(self.ids) - len(self.low_quality) - len(self.exact_copies)


class CorpusGenerator:
    def __init__(self, seed: int, docs_per_shard: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = _vocab(self.rng, 6000)
        self.docs_per_shard = docs_per_shard
        self.next_id = 0

    def _text(self) -> list[str]:
        n = int(self.rng.integers(WORDS_PER_DOC - 20, WORDS_PER_DOC + 20))
        toks = self.vocab[self.rng.integers(0, len(self.vocab), n)]
        stops = np.array(STOPWORDS)[self.rng.integers(0, len(STOPWORDS), n)]
        return np.where(self.rng.random(n) < 0.25, stops, toks).tolist()

    def shard(self) -> Shard:
        """~10% exact copies, ~10% near copies, ~5% junk."""
        n = self.docs_per_shard
        n_exact, n_near, n_junk = n // 10, n // 10, n // 20
        n_base = n - n_exact - n_near - n_junk
        base = [self._text() for _ in range(n_base)]
        texts: list[str] = [" ".join(t) for t in base]
        kinds = ["base"] * n_base
        srcs: list[int | None] = [None] * n_base
        for _ in range(n_junk):
            texts.append("!!! " + ";; ".join(self._text()[:12]) + " ???")
            kinds.append("junk")
            srcs.append(None)
        for j in self.rng.choice(n_base, n_exact, replace=False):
            gaps = np.array([" ", "  ", "\t", " \n"])[self.rng.integers(0, 4, len(base[j]))]
            texts.append("".join(w + g for w, g in zip(base[j], gaps)).rstrip())
            kinds.append("exact")
            srcs.append(int(j))
        for j in self.rng.choice(n_base, n_near, replace=False):
            t = list(base[j])
            for p in self.rng.choice(len(t), int(self.rng.integers(1, 3)), replace=False):
                while True:
                    w = str(self.vocab[self.rng.integers(0, len(self.vocab))])
                    if w != t[p]:
                        t[p] = w
                        break
            texts.append(" ".join(t))
            kinds.append("near")
            srcs.append(int(j))
        order = self.rng.permutation(len(texts))
        ids = [self.next_id + i for i in range(len(texts))]
        self.next_id += len(texts)
        pos = {int(o): i for i, o in enumerate(order)}  # original index -> shuffled slot
        out = Shard(ids=ids, texts=[texts[int(o)] for o in order])
        survivor = {}  # base index -> lowest id among it and its exact copy
        for orig, kind in enumerate(kinds):
            doc_id = ids[pos[orig]]
            if kind == "junk":
                out.low_quality.add(doc_id)
            elif kind == "exact":
                src = ids[pos[srcs[orig]]]
                survivor[srcs[orig]] = min(src, doc_id)
                out.exact_copies.add(max(src, doc_id))
        for orig, kind in enumerate(kinds):
            if kind == "near":
                doc_id = ids[pos[orig]]
                src = survivor.get(srcs[orig], ids[pos[srcs[orig]]])
                out.near_pairs.add((min(src, doc_id), max(src, doc_id)))
        # expected gate outcome comes from the plain-Python score
        scored_low = {i for i, t in zip(out.ids, out.texts) if quality_score(t) < QUALITY_MIN}
        if scored_low != out.low_quality:
            raise AssertionError("generator: planted junk and quality gate disagree")
        return out
