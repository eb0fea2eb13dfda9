"""Seeded inputs for the benchmark: corpus, query streams, re-crawl batches.

Everything here is a pure function of (seed, sizes), built with numpy's
Philox generator, so the same seed yields byte-identical inputs on any
machine. The engine never sees the seed — only the generated documents
and query strings.

Corpus model: a Zipf(s=1.07) vocabulary of synthetic lowercase words
(shorter words are more frequent, as in natural text), log-normal page
lengths, each page capitalised and ending in a period so the tokenizer's
lowercasing and punctuation split both run.
"""

from __future__ import annotations

import numpy as np

ZIPF_S = 1.07
#: ranks below this are the "head" (stop-word-like) terms
HEAD_RANKS = 20
MAX_DOC_TOKENS = 200          # below the engine's doc_maxlen truncation
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent stream per input kind, so changing one size never
    reshuffles the others."""
    return np.random.Generator(np.random.Philox(key=[seed, stream]))


def vocabulary(seed: int, size: int) -> np.ndarray:
    """`size` distinct lowercase words, ordered by rank (shortest first)."""
    rng = _rng(seed, 1)
    words: dict[str, None] = {}
    while len(words) < size:
        n = 2 * (size - len(words))
        lens = rng.integers(3, 10, size=n)
        chars = _LETTERS[rng.integers(0, 26, size=(n, 9))]
        for row, ln in zip(chars, lens):
            words.setdefault(row[:ln].tobytes().decode(), None)
    out = np.array(list(words)[:size], dtype=object)
    return out[np.argsort([len(w) for w in out], kind="stable")]


def _zipf_probs(size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** ZIPF_S
    return p / p.sum()


def corpus(seed: int, num_docs: int, vocab_size: int) -> tuple[np.ndarray, list[str]]:
    """(pids, texts): pids are 0..num_docs-1, texts are page bodies."""
    vocab = vocabulary(seed, vocab_size)
    rng = _rng(seed, 2)
    lens = np.clip(rng.lognormal(4.1, 0.5, size=num_docs), 8,
                   MAX_DOC_TOKENS).astype(np.int64)
    ids = rng.choice(vocab_size, size=int(lens.sum()), p=_zipf_probs(vocab_size))
    words = vocab[ids]
    texts = []
    start = 0
    for ln in lens:
        w = words[start:start + ln]
        start += ln
        texts.append(w[0].capitalize() + " " + " ".join(w[1:]) + ".")
    return np.arange(num_docs, dtype=np.int64), texts


def queries(seed: int, stream: int, count: int, vocab_size: int,
            head_frac: float = 0.10, oov_frac: float = 0.05) -> list[str]:
    """`count` distinct queries of 2-6 terms. Body terms follow the corpus
    Zipf law past the head ranks; `head_frac` of queries carry one head
    term and `oov_frac` one out-of-vocabulary term (a word with digits,
    which the vocabulary never has). `stream` separates query streams
    drawn from one seed (point searches, batches)."""
    vocab = vocabulary(seed, vocab_size)
    rng = _rng(seed, 100 + stream)
    body_cdf = np.cumsum(_zipf_probs(vocab_size)[HEAD_RANKS:])
    body_cdf /= body_cdf[-1]
    out: dict[str, None] = {}
    while len(out) < count:
        n = int(rng.integers(2, 7))
        ranks = HEAD_RANKS + np.searchsorted(body_cdf, rng.random(n))
        terms = list(vocab[np.minimum(ranks, vocab_size - 1)])
        if rng.random() < head_frac:
            terms[0] = vocab[int(rng.integers(0, HEAD_RANKS))]
        if rng.random() < oov_frac:
            terms[-1] = f"x{int(rng.integers(0, 10**7)):07d}"
        out.setdefault(" ".join(terms), None)
    return list(out)


def recrawl(seed: int, num_docs: int, size: int) -> np.ndarray:
    """Sorted pids of `size` distinct re-captured pages. A re-capture
    carries the page's identical text, so the index's live content — and
    therefore every ranking — must be unchanged after a remove → add
    cycle."""
    return np.sort(_rng(seed, 3).permutation(num_docs)[:size])


def page_queries(seed: int, stream: int, pages: list[str], count: int,
                 vocab_size: int, terms: int = 3) -> list[str]:
    """`count` distinct queries of `terms` words from one of the given
    pages each, so their rankings are sure to hold re-crawled documents.
    Like `queries`, they skip the head terms: users search for what
    distinguishes a page."""
    head = set(vocabulary(seed, vocab_size)[:HEAD_RANKS])
    rng = _rng(seed, 200 + stream)
    words = [[w for w in dict.fromkeys(p.lower().rstrip(".").split())
              if w not in head] for p in pages]
    words = [w for w in words if len(w) >= terms]
    out: dict[str, None] = {}
    while len(out) < count:
        w = words[int(rng.integers(0, len(words)))]
        pick = rng.choice(len(w), size=terms, replace=False)
        out.setdefault(" ".join(w[i] for i in sorted(pick)), None)
    return list(out)
