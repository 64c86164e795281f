"""Exhaustive BM25 oracle, written independently of the engine.

It tokenizes the corpus itself (maximal ASCII-alphanumeric runs, lowercased)
and scores every document that holds a query term with the formula of
``pageindex_spark/oracle/bm25.py``: k1=1.2, b=0.75, idf
``ln((N - df + 0.5) / (df + 0.5) + 1)``, contributions summed in sorted
unique term order, ties broken by url ascending. Term expansion (prefix,
wildcard, fuzzy) is recomputed from the corpus vocabulary, so a wrong
expansion in the engine shows up as a wrong top-k.
"""

from __future__ import annotations

import math
import re
from collections import Counter

import numpy as np

K1 = 1.2
B = 0.75
SCORE_TOL = 1e-9
_TOKEN_RE = re.compile("[A-Za-z0-9]+")
_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789"


def tokenize(text: str) -> list[str]:
    return [t.lower() for t in _TOKEN_RE.findall(text)]


class Oracle:
    def __init__(self, urls: list[str], texts: list[str]):
        order = sorted(range(len(urls)), key=urls.__getitem__)
        self.urls = [urls[i] for i in order]
        self.n = len(order)
        dl = np.empty(self.n, dtype=np.float64)
        docs: dict[str, list[int]] = {}
        tfs: dict[str, list[int]] = {}
        for d, i in enumerate(order):
            toks = tokenize(texts[i])
            dl[d] = len(toks)
            for t, c in Counter(toks).items():
                docs.setdefault(t, []).append(d)
                tfs.setdefault(t, []).append(c)
        self.avgdl = float(dl.sum()) / float(self.n)
        self.dl = dl
        self.postings = {
            t: (np.asarray(docs[t], dtype=np.int64), np.asarray(tfs[t], dtype=np.float64))
            for t in docs
        }
        self.vocab = sorted(self.postings)

    def df(self, term: str) -> int:
        p = self.postings.get(term)
        return 0 if p is None else len(p[0])

    def idf(self, term: str) -> float:
        df = self.df(term)
        return math.log((self.n - df + 0.5) / (df + 0.5) + 1.0)

    def topk(self, terms: list[str], k: int = 10) -> list[tuple[str, float]]:
        acc = np.zeros(self.n, dtype=np.float64)
        hit = np.zeros(self.n, dtype=bool)
        for t in sorted(set(terms)):
            p = self.postings.get(t)
            if p is None:
                continue
            d, tf = p
            weight = self.idf(t) * (K1 + 1.0)
            acc[d] += weight * tf / (tf + K1 * (1.0 - B + B * self.dl[d] / self.avgdl))
            hit[d] = True
        cand = np.flatnonzero(hit)
        # docIDs follow url order, so (score desc, docID asc) == (score desc, url asc)
        best = cand[np.lexsort((cand, -acc[cand]))][:k]
        return [(self.urls[d], float(acc[d])) for d in best]

    # ---------------- term expansion -------------------------------------

    def expand(self, kind: str, pattern: str) -> list[str]:
        if kind == "prefix":
            stem = pattern.rstrip("*").lower()
            return [t for t in self.vocab if t.startswith(stem)]
        if kind == "wildcard":
            rx = re.compile(
                "^" + re.escape(pattern.lower()).replace(r"\*", "[a-z0-9]*").replace(r"\?", "[a-z0-9]") + "$"
            )
            return [t for t in self.vocab if rx.match(t)]
        if kind == "fuzzy":
            return sorted(t for t in _edits1(pattern.lower()) if t in self.postings)
        raise ValueError(kind)


def _edits1(w: str) -> set[str]:
    """Every string within one Levenshtein edit of ``w`` (``w`` included)."""
    splits = [(w[:i], w[i:]) for i in range(len(w) + 1)]
    out = {w}
    out.update(a + b[1:] for a, b in splits if b)
    out.update(a + c + b[1:] for a, b in splits if b for c in _ALPHABET)
    out.update(a + c + b for a, b in splits for c in _ALPHABET)
    return out


def check_rows(
    rows: list[tuple[int, int, str, float]], expected: dict[int, list[tuple[str, float]]]
) -> int:
    """Number of queries whose (rank, url) list differs from the oracle or
    whose scores differ by more than ``SCORE_TOL``."""
    got: dict[int, list[tuple[int, str, float]]] = {}
    for qid, rank, url, score in rows:
        got.setdefault(int(qid), []).append((int(rank), url, float(score)))
    bad = 0
    for qid in set(got) | set(expected):
        g = sorted(got.get(qid, []))
        e = expected.get(qid, [])
        ok = len(g) == len(e) and all(
            gr == i + 1 and gu == eu and abs(gs - es) <= SCORE_TOL
            for i, ((gr, gu, gs), (eu, es)) in enumerate(zip(g, e))
        )
        bad += not ok
    return bad
