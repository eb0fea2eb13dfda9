"""Block-max BM25 top-k over posting blocks — the query-time engine.

Spark rebuild of IndexScorer.rank (colbert/search/index_storage.py:87-166):
the reference's prune-then-exact funnel (centroid-score threshold → approx
topk(ndocs) → exact MaxSim) becomes MaxScore-style pruning with block-max
metadata:

  1. terms processed in descending upper bound (UB_t = max block score of t
     — precomputed at build time, read without decoding any block);
  2. ESSENTIAL terms are fully decoded and accumulated; θ = current k-th
     accumulated score is a valid lower bound of the final k-th score
     (scores only grow);
  3. once the remaining terms' ΣUB < θ, no unseen doc can reach top-k →
     remaining terms switch to UPDATE-ONLY: a block is decoded only if its
     [first_pid, last_pid] range intersects the accumulator set (block-max
     metadata + range check = the skip). Every surviving accumulator ends
     with its EXACT BM25 score, so the final ranking is exact.

One kernel and one batch plan:
  - `score_query_blocks`: the MaxScore kernel above, over ONE query's
    blocks on the driver (Searcher.search). True skipping.
  - `topk_scatter`: score blocks in place where the index lives
    (mapInPandas over term-bucketed blocks, no postings shuffle), then
    groupBy(qid, pid).sum + window rank (Searcher.search_all). No
    skipping, but each block is decoded once however many queries share
    its term.
Both return identical rankings (tested for equivalence), and both drop
tombstoned postings right after decode with catalog.tombstoned, from the
driver-held (pid, before_epoch) pair of catalog.collect_tombstones.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, Window

from colbert_spark.functions.bm25 import B, K1, SCORE_DECIMALS
from colbert_spark.functions.codec import decode_pids_auto as decode_pids, \
    decode_tfs_auto as decode_tfs
from colbert_spark.sources.catalog import tombstoned

RANKING_SCHEMA = "qid long, pid long, rank int, score double"


def _term_scores(tfs: np.ndarray, dls: np.ndarray, idf: float,
                 avgdl: float) -> np.ndarray:
    tf = tfs.astype(np.float64)
    dl = dls.astype(np.float64)
    return idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def score_query_blocks(pdf: pd.DataFrame, k: int, avgdl: float,
                       excluded: "tuple[np.ndarray, np.ndarray] | None" = None,
                       allowed: "np.ndarray | None" = None,
                       ) -> tuple[np.ndarray, np.ndarray]:
    """MaxScore kernel for ONE query's blocks → (top pids, top scores).

    pdf columns: term_id, block_id, idf, first_pid, last_pid,
    max_block_score, pids, tfs, dls. Exact top-k; blocks of non-essential
    terms that cannot touch any accumulated candidate are never decoded.

    excluded: (sorted pid array, aligned before_epoch array) — epoch-aware
    tombstones, applied by catalog.tombstoned. A pid is dropped only from
    blocks whose epoch (block_id >> 32) < its before_epoch, so a re-added
    pid's newer postings survive while its removed-era postings are
    excluded.

    allowed: sorted unique pid array — the allow-list (F3). Postings of
    other pids are dropped right after decode, like tombstones, so every
    accumulator is an eligible doc and the MaxScore threshold stays a
    valid lower bound of the k-th eligible score.
    """
    # per-term upper bound = max over its blocks (no decode needed)
    by_term = pdf.groupby("term_id", sort=False)
    term_ids = np.array(list(by_term.groups.keys()))
    ubs = by_term["max_block_score"].max().to_numpy()
    order = np.argsort(-ubs, kind="stable")
    term_ids, ubs = term_ids[order], ubs[order]
    suffix_ub = np.concatenate([np.cumsum(ubs[::-1])[::-1], [0.0]])

    acc_pids = np.empty(0, dtype=np.int64)
    acc_scores = np.empty(0, dtype=np.float64)

    for i, tid in enumerate(term_ids):
        g = by_term.get_group(tid)
        idf = float(g["idf"].iloc[0])
        theta = (
            -np.inf if acc_pids.size < k
            else np.partition(acc_scores, acc_scores.size - k)[acc_scores.size - k]
        )
        essential = suffix_ub[i] >= theta
        new_p, new_s = [acc_pids], [acc_scores]
        for fp, lp, bid, pb, tb, db in zip(
            g["first_pid"], g["last_pid"], g["block_id"], g["pids"],
            g["tfs"], g["dls"]
        ):
            if not essential:
                # update-only: skip blocks not overlapping the accumulator
                lo = np.searchsorted(acc_pids, fp, side="left")
                hi = np.searchsorted(acc_pids, lp, side="right")
                if hi == lo:
                    continue
            pids = decode_pids(bytes(pb))
            scores = _term_scores(decode_tfs(bytes(tb)), decode_tfs(bytes(db)),
                                  idf, avgdl)
            if excluded is not None:
                keep = ~tombstoned(pids, int(bid) >> 32, excluded)
                pids, scores = pids[keep], scores[keep]
                if pids.size == 0:
                    continue
            if allowed is not None:
                keep = np.isin(pids, allowed, assume_unique=True)
                pids, scores = pids[keep], scores[keep]
                if pids.size == 0:
                    continue
            if not essential:
                mask = np.isin(pids, acc_pids, assume_unique=True)
                pids, scores = pids[mask], scores[mask]
                if pids.size == 0:
                    continue
            new_p.append(pids)
            new_s.append(scores)
        allp = np.concatenate(new_p)
        alls = np.concatenate(new_s)
        # merge duplicate pids (in update-only rounds only pre-existing
        # accumulators can appear; the merge handles both cases)
        acc_pids, inv = np.unique(allp, return_inverse=True)
        acc_scores = np.bincount(inv, weights=alls)

    if acc_pids.size == 0:
        return acc_pids, acc_scores
    rounded = np.round(acc_scores, SCORE_DECIMALS)
    kk = min(k, acc_pids.size)
    # total order (-score, pid), reference server.py:34
    top = np.lexsort((acc_pids, -rounded))[:kk]
    return acc_pids[top], rounded[top]


def topk_scatter(blocks: DataFrame, qterms: DataFrame, k: int,
                 avgdl: float, qid_to_pids: DataFrame | None = None,
                 tombstones: Broadcast | None = None,
                 allow_small: bool = False,
                 after: DataFrame | None = None) -> DataFrame:
    """Score blocks in place (no per-query gather), then relational top-k.

    Each block is decoded ONCE regardless of how many queries share the
    term: idf factors out of the BM25 term score, so the kernel emits
    (term_id, pid, core) where core = tf(k1+1)/(tf + k1(1-b+b·dl/avgdl)),
    and a broadcast join with qterms(qid, term_id, idf) produces per-query
    partials s = idf·core. Catalyst's map-side combine collapses the
    (qid, pid) partial sums before the one shuffle; window rank caps at k.

    tombstones: a Broadcast of the (sorted pids, aligned before_epochs)
    pair of catalog.collect_tombstones, or None when there are none; the
    kernel drops the postings it excludes (catalog.tombstoned,
    epoch-bounded) right after decode, as score_query_blocks does. A
    broadcast ships the pair once per executor, where a closure would
    ship it with every task.

    allow_small: the caller's assertion that the allow-list fits a
    broadcast. When False the join is left unhinted — an allow-list can
    be O(corpus) (e.g. a language filter), and a forced broadcast of it
    is a driver/executor OOM; AQE still converts to a runtime broadcast
    join when the set turns out small.
    """
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tomb = None if tombstones is None else tombstones.value
        for pdf in batches:
            tids, pids, cores = [], [], []
            for tid, bid, pb, tb, db in zip(
                pdf["term_id"], pdf["block_id"], pdf["pids"], pdf["tfs"],
                pdf["dls"]
            ):
                p = decode_pids(bytes(pb))
                c = _term_scores(decode_tfs(bytes(tb)), decode_tfs(bytes(db)),
                                 1.0, avgdl)
                if tomb is not None:
                    keep = ~tombstoned(p, int(bid) >> 32, tomb)
                    p, c = p[keep], c[keep]
                tids.append(np.full(p.size, tid, dtype=np.int64))
                pids.append(p)
                cores.append(c)
            if tids:
                yield pd.DataFrame({
                    "term_id": np.concatenate(tids),
                    "pid": np.concatenate(pids),
                    "core": np.concatenate(cores),
                })

    partials = blocks.select("term_id", "block_id", "pids", "tfs", "dls") \
        .mapInPandas(kernel, schema="term_id long, pid long, core double")
    scored = partials.join(F.broadcast(qterms), "term_id").select(
        "qid", "pid", (F.col("idf") * F.col("core")).alias("s")
    )
    if qid_to_pids is not None:
        # pid allow-list (F3, colbert/searcher.py:65-94): qids present in the
        # list are restricted to their pids; absent qids stay unrestricted.
        # Applied BEFORE the (qid, pid) aggregation so the one shuffle
        # carries only allowed pairs — ranking work scales with the
        # candidate set, not the corpus.
        allow = qid_to_pids.select("qid", "pid")
        # the distinct-qid side is bounded by the query batch — always tiny
        restricted_qids = F.broadcast(allow.select("qid").distinct())
        restricted = scored.join(
            restricted_qids, "qid", "left_semi"
        ).join(F.broadcast(allow) if allow_small else allow, ["qid", "pid"],
               "left_semi")
        unrestricted = scored.join(restricted_qids, "qid", "left_anti")
        scored = restricted.unionByName(unrestricted)
    agg = scored.groupBy("qid", "pid").agg(
        F.round(F.sum("s"), SCORE_DECIMALS).alias("score")
    )
    if after is not None:
        # keyset cursor (search_after): prune everything at or above the
        # cursor BEFORE the rank window — page cost O(page), not O(depth).
        # Exact rounded scores are already in hand here, so no pruning
        # soundness caveat applies.
        cur = after.select("qid", "after_score", "after_pid")
        agg = agg.join(F.broadcast(cur), "qid").filter(
            (F.col("score") < F.col("after_score"))
            | ((F.col("score") == F.col("after_score"))
               & (F.col("pid") > F.col("after_pid")))
        ).drop("after_score", "after_pid")
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("pid"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "pid", "rank", "score")
    )
