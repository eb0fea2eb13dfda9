"""Serving-layer helpers — the reference's server.py analog (no HTTP).

Parity with /root/reference/server.py:16-44: an lru_cache'd query function
returning top-k with softmax probabilities, results ordered by
(-score, pid) (:27-34). The HTTP framing (Flask) is deliberately not
reproduced — any serving framework can wrap `api_search`.
"""

from __future__ import annotations

import math
from functools import lru_cache

from colbert_spark.plans.searcher import Searcher


def make_api(searcher: Searcher, cache_size: int = 1_000_000):
    """Build a memoized query function (reference lru_cache(2**20), :19).
    Answers are cached under the searcher's pinned version, so none
    computed before a `Searcher.refresh()` is served after it."""

    @lru_cache(maxsize=cache_size)
    def cached(version: int, query: str, k: int) -> tuple[dict, ...]:
        pids, ranks, scores = searcher.search(query, k=k)
        if not pids:
            return ()
        denom = sum(math.exp(s) for s in scores)
        probs = [math.exp(s) / denom for s in scores]
        return tuple(
            {"pid": p, "rank": r, "score": s, "prob": pr}
            for p, r, s, pr in zip(pids, ranks, scores, probs)
        )

    def api_search(query: str, k: int = 10) -> tuple[dict, ...]:
        return cached(searcher.version, query, k)

    api_search.cache_info = cached.cache_info
    api_search.cache_clear = cached.cache_clear
    return api_search


def make_doc_text_lookup(docs, id_col: str = "pid", text_col: str = "text"):
    """Batch J5 point lookup over a collection DataFrame: pids → {pid: text}
    in ONE broadcast-semi-join scan per call (never a per-pid filter —
    that's a corpus scan per lookup)."""
    import pyspark.sql.functions as F

    spark = docs.sparkSession

    def lookup(pids: list[int]) -> dict[int, str]:
        if not pids:
            return {}
        pid_df = spark.createDataFrame(
            [(int(p),) for p in pids], f"{id_col} long"
        )
        rows = (
            docs.select(id_col, text_col)
            .join(F.broadcast(pid_df), id_col, "left_semi")
            .collect()
        )
        return {r[id_col]: r[text_col] for r in rows}

    return lookup


def hop_search(searcher: Searcher, query: str, k: int = 10,
               hops: int = 2, expand_terms: int = 5,
               get_doc_text=None, get_doc_texts=None) -> tuple[list, list, list]:
    """Multi-hop retrieval (Baleen HopSearcher analog,
    baleen/hop_searcher.py:11-40): each hop conditions the next query on
    retrieved context. Lexical conditioning = append the top doc's most
    frequent terms to the query (the reference appends encoder context,
    :80-89 of query_tokenization.py).

    get_doc_texts(pids) -> {pid: text} supplies passage text for a whole
    hop's candidates in one batched lookup (J5 — use make_doc_text_lookup:
    one semi-join scan per hop, not one scan per pid). get_doc_text(pid)
    -> str is the single-pid fallback. One of the two is required for
    hops > 1.
    """
    pids, ranks, scores = searcher.search(query, k=k)
    context = query
    for _ in range(hops - 1):
        if not pids or (get_doc_texts is None and get_doc_text is None):
            break
        from colbert_spark.functions.analysis import python_tokenize

        if get_doc_texts is not None:
            top_text = get_doc_texts(list(pids))[pids[0]]
        else:
            top_text = get_doc_text(pids[0])
        # expansion terms: tf desc, first-occurrence asc — explicit total
        # order so the hop is deterministic and oracle-replayable
        counts: dict[str, int] = {}
        first: dict[str, int] = {}
        for i, t in enumerate(python_tokenize(top_text)):
            counts[t] = counts.get(t, 0) + 1
            first.setdefault(t, i)
        common = sorted(counts, key=lambda t: (-counts[t], first[t]))
        context = context + " " + " ".join(common[:expand_terms])
        pids, ranks, scores = searcher.search(context, k=k)
    return pids, ranks, scores
