"""Engine-independent BM25 top-k oracle in numpy.

Implements the engine's documented contract from scratch: tokens are
lower(text) split on [^a-z0-9]+ with empties dropped, documents truncated
to 220 tokens and queries to 32, distinct query terms; k1=1.2, b=0.75,
idf = ln((N - df + 0.5) / (df + 0.5) + 1), float64 sums, scores rounded
to 6 decimals before ranking, ties broken by (-score, pid).
"""

from __future__ import annotations

import re

import numpy as np

K1, B = 1.2, 0.75
DOC_MAXLEN, QUERY_MAXLEN = 220, 32
DECIMALS = 6
_SPLIT = re.compile("[^a-z0-9]+")


def tokenize(text: str, maxlen: int) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t][:maxlen]


class BM25Oracle:
    def __init__(self, pids: np.ndarray, texts: list[str]):
        term_ids: dict[str, int] = {}
        rows_t, rows_d, doclens = [], [], np.empty(len(texts), np.float64)
        for d, text in enumerate(texts):
            toks = tokenize(text, DOC_MAXLEN)
            doclens[d] = len(toks)
            for t in toks:
                rows_t.append(term_ids.setdefault(t, len(term_ids)))
            rows_d.extend([d] * len(toks))
        t = np.asarray(rows_t, np.int64)
        d = np.asarray(rows_d, np.int64)
        # (term, doc) → tf, grouped by term for slice lookup
        key = t * len(texts) + d
        uniq, tf = np.unique(key, return_counts=True)
        self.post_term = uniq // len(texts)
        self.post_doc = uniq % len(texts)
        self.post_tf = tf.astype(np.float64)
        self.starts = np.searchsorted(self.post_term, np.arange(len(term_ids) + 1))
        self.term_ids = term_ids
        self.pids = np.asarray(pids, np.int64)
        self.doclens = doclens
        self.n = len(texts)
        self.avgdl = float(doclens.mean())
        self.text_bytes = sum(len(x.encode()) for x in texts)

    def df(self, term: str) -> int:
        tid = self.term_ids.get(term)
        return 0 if tid is None else int(self.starts[tid + 1] - self.starts[tid])

    def query_terms(self, query: str) -> list[str]:
        return sorted(set(tokenize(query, QUERY_MAXLEN)))

    def search(self, query: str, k: int) -> list[tuple[int, float]]:
        """Top-k [(pid, score)] in (-score, pid) order."""
        acc = np.zeros(self.n, np.float64)
        hit = np.zeros(self.n, bool)
        for term in self.query_terms(query):
            tid = self.term_ids.get(term)
            if tid is None:
                continue
            s, e = self.starts[tid], self.starts[tid + 1]
            docs, tf = self.post_doc[s:e], self.post_tf[s:e]
            df = e - s
            idf = np.log((self.n - df + 0.5) / (df + 0.5) + 1.0)
            dl = self.doclens[docs]
            acc[docs] += idf * tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * dl / self.avgdl))
            hit[docs] = True
        docs = np.flatnonzero(hit)
        scores = np.round(acc[docs], DECIMALS)
        pids = self.pids[docs]
        top = np.lexsort((pids, -scores))[:k]
        return [(int(pids[i]), float(scores[i])) for i in top]


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]],
                 tol: float = 2e-6) -> bool:
    """Equal up to ULP-level float noise: the same length, scores equal
    within `tol` rank by rank, and pids equal except inside a run of
    near-tied scores (where summation order may flip the 6th decimal)."""
    if len(got) != len(want):
        return False
    if any(abs(g[1] - w[1]) > tol for g, w in zip(got, want)):
        return False
    for i, (g, w) in enumerate(zip(got, want)):
        if g[0] == w[0]:
            continue
        tied = [j for j in range(len(want)) if abs(want[j][1] - w[1]) <= tol]
        if g[0] not in {want[j][0] for j in tied}:
            return False
    return True
