"""Searcher — top-k retrieval over a built index (colbert/searcher.py parity).

API surface:
    Searcher(index=name, config=...) .search(text, k) → (pids, ranks, scores)
    .search_all(queries, k)          → Ranking          (searcher.py:69-104)
with optional pid allow-lists (pids= / qid_to_pids=, searcher.py:65-94 F3).

Where the reference loops queries serially through dense_search
(searcher.py:77-104), search_all here is ONE distributed job. Plan shape:

    queries → terms ⋈ broadcast(term_dict slice)  [tiny; collected once]
    postings scan: bucket ∈ query buckets AND term_id ∈ query terms
      → partition pruning (bucket=) + row-group min/max pruning (term_id);
      only the query's posting blocks are ever read.
    wand.topk_scatter: decode each block once where it lives, broadcast-
      join the query idfs, (qid, pid) sum → window rank → exact top-k.

search (one query) runs the same pruned read on the driver and scores it
with the MaxScore kernel (block-max skipping), with zero Spark jobs — as
the reference serves search in-process (server.py:16-44):

    python_tokenize(text, query_maxlen), distinct
    → pyarrow term_dict read, term ∈ query terms     → (term_id, idf)
    → pyarrow postings read, bucket ∈ {t % index_partitions}
                             AND term_id ∈ query term ids
    → wand.score_query_blocks(tombstones, allow-list mask) → exact top-k.

It falls back to search_all only when the catalog has no plain-file
layout (IcebergIndexCatalog.read_arrow is None). These are two
independent implementations of one ranking contract, each the other's
test reference: the kernel answers search, the scatter plan search_all.

A Searcher serves the index version it opened, as the reference serves
the index state it loaded (colbert/searcher.py:23-51): both paths read
only the files, stats and tombstones (one driver-held pair,
catalog.collect_tombstones) of the metadata.json it pinned, and
refresh() moves it to the current version.

The reference's k-dependent funnel knobs (ncells/threshold/ndocs,
searcher.py:106-127) have no free parameters here: block-max pruning is
exact.
"""

from __future__ import annotations

from dataclasses import asdict

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from colbert_spark.functions import analysis
from colbert_spark.operators import wand
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.sources.catalog import (
    collect_tombstones,
    make_catalog,
    posting_buckets,
    tombstone_bounds,
)
from colbert_spark.sources.ranking import Ranking


class Searcher:
    def __init__(
        self,
        index: str,
        spark: SparkSession,
        config: ColBERTConfig | None = None,
    ):
        self.spark = spark
        base = ColBERTConfig.from_existing(config)
        base.index_name = index
        self.config = base
        self.catalog = make_catalog(base)
        self.term_dict = self._tomb_bc = None
        self.refresh()

    def refresh(self) -> None:
        """Pin the index's current version for both query paths, whatever
        later commits publish (a commit keeps the files of the version it
        replaces). Not concurrent with this Searcher's own queries."""
        rec = self.catalog.pin()
        self.version: int = rec["version"]
        self.num_docs: int = rec["num_docs"]
        self.avgdl: float = rec["avg_doclen"]
        if self.term_dict is not None:
            self.term_dict.unpersist()
        self.term_dict = self.catalog.read(self.spark, "term_dict").persist()
        self.term_dict.count()  # materialize once
        # removed pids as (sorted pids, aligned before_epochs): both kernels
        # drop a pid only from blocks whose epoch < its before_epoch
        self.tombstones = collect_tombstones(
            [tombstone_bounds(self.catalog, self.spark)])
        # one broadcast per pinned version for search_all's scatter kernel
        if self._tomb_bc is not None:
            self._tomb_bc.unpersist()
        self._tomb_bc = (self.spark.sparkContext.broadcast(self.tombstones)
                         if self.tombstones[0].size else None)

    # -- query encoding (lexical analog of Searcher.encode) ----------------
    def _query_terms(self, queries: DataFrame) -> DataFrame:
        """(qid, term_id, idf) for in-dictionary query terms. A term
        repeated in a query repeats here: search_all drops repeats after
        its one collect of this (tiny) frame, which spares a shuffle (a
        query holds at most query_maxlen tokens)."""
        qt = queries.select(
            "qid",
            F.explode(
                analysis.tokens("text", self.config.query_maxlen)
            ).alias("term"),
        )
        return qt.join(
            self.term_dict.select("term", "term_id", "idf"), "term"
        ).select("qid", "term_id", "idf")

    # beyond this many distinct query terms, an IN-list stops being a sane
    # pushdown predicate; switch to a broadcast semi-join (bucket pruning
    # still applies — bucket count is bounded by index_partitions)
    _ISIN_LIMIT = 1000

    def _candidate_blocks(self, tids: list[int]) -> DataFrame:
        """Postings scan pruned to the query terms' buckets + term ids."""
        if not tids:
            return None
        buckets = posting_buckets(tids, self.config.index_partitions)
        scan = self.catalog.read(self.spark, "postings").filter(
            F.col("bucket").isin(buckets)
        )
        if len(tids) <= self._ISIN_LIMIT:
            return scan.filter(F.col("term_id").isin(tids))
        # from pandas, a local relation: no Python task re-serializes it
        wanted = self.spark.createDataFrame(
            pd.DataFrame({"term_id": tids}, dtype="int64"), "term_id long")
        return scan.join(F.broadcast(wanted), "term_id", "left_semi")

    # -- public API ---------------------------------------------------------
    def search_all(
        self,
        queries: DataFrame | dict[int, str],
        k: int = 10,
        qid_to_pids: DataFrame | None = None,
        allow_small: bool = False,
        after: DataFrame | None = None,
    ) -> Ranking:
        """Batch retrieval → Ranking, through wand.topk_scatter: each
        candidate block is decoded once however many queries share its
        term, so a head term in thousands of queries is not copied per
        query.

        qid_to_pids: optional (qid, pid) allow-list DataFrame (F3 semantics:
        restrict each query's search space before ranking). allow_small=True
        asserts the list fits a broadcast; by default the semi-join is left
        unhinted so an O(corpus) allow-list cannot force an OOM broadcast
        (AQE still broadcasts at runtime when it is small).

        after: optional (qid, after_score, after_pid) keyset-cursor
        DataFrame — ES search_after pagination over the index. Only
        cursor-bearing qids are searched (a cursor means "continue this
        query"; exhausted queries simply have no cursor), and each
        returns its next page strictly after the cursor in (-score, pid)
        order, rank rebased 1..k. The plan prunes at or above the cursor
        BEFORE the rank window (O(page) cost). Same row contract as
        brute.bm25_search_after (equivalence pytest-proven).

        k < 1 raises ValueError before any job runs.
        """
        _check_k(k)
        if isinstance(queries, dict):
            # from pandas, a local relation: no Python task re-serializes it
            queries = self.spark.createDataFrame(pd.DataFrame(
                {"qid": list(queries), "text": list(queries.values())}
            ).astype({"qid": "int64", "text": "object"}), "qid long, text string")
        if after is not None:
            after = after.select("qid", "after_score", "after_pid")
            # cursors are per-query-batch tiny
            queries = queries.join(F.broadcast(after.select("qid")), "qid",
                                   "left_semi")
        # the query terms are broadcast anyway, so they go back in as a
        # local relation rather than a cache that would outlive the call
        qrows = self._query_terms(queries).toPandas().drop_duplicates(
            ["qid", "term_id"], ignore_index=True)
        blocks = self._candidate_blocks(sorted(set(qrows["term_id"].tolist())))
        if blocks is None:
            empty = self.spark.createDataFrame([], wand.RANKING_SCHEMA)
            return Ranking(empty, self._provenance(k))
        ranking = wand.topk_scatter(blocks, self.spark.createDataFrame(qrows),
                                    k, self.avgdl, qid_to_pids=qid_to_pids,
                                    tombstones=self._tomb_bc,
                                    allow_small=allow_small, after=after)
        return Ranking(ranking, self._provenance(k))

    def search(self, text: str, k: int = 10,
               pids: list[int] | None = None) -> tuple[list, list, list]:
        """Single query → (pids, ranks, scores) exactly like searcher.py:131.

        Runs on the driver with zero Spark jobs (module docstring), and
        returns row-for-row what search_all does for the same query. pids: optional allow-list; the ranking holds
        only these pids, and an empty list allows nothing (→ empty
        result). k < 1 raises ValueError before any I/O.
        """
        _check_k(k)
        if pids is not None and len(pids) == 0:
            return [], [], []
        hits = self._search_local(text, k, pids)
        if hits is not None:
            return hits
        q = self.spark.createDataFrame([(0, text)], "qid long, text string")
        allow = None
        if pids is not None:
            allow = self.spark.createDataFrame(
                [(0, int(p)) for p in pids], "qid long, pid long"
            )
        rows = (
            self.search_all(q, k=k, qid_to_pids=allow, allow_small=True)
            .df.orderBy("rank").collect()
        )
        return (
            [r["pid"] for r in rows],
            [r["rank"] for r in rows],
            [r["score"] for r in rows],
        )

    #: posting-block columns the MaxScore kernel reads
    _BLOCK_COLUMNS = ["term_id", "block_id", "first_pid", "last_pid",
                      "max_block_score", "pids", "tfs", "dls"]

    def _search_local(self, text: str, k: int, pids: list[int] | None,
                      ) -> tuple[list, list, list] | None:
        """search() through pyarrow reads of the query's term_dict rows
        and posting blocks; None when the catalog cannot read files."""
        import numpy as np
        import pyarrow.dataset as ds

        terms = list(dict.fromkeys(
            analysis.python_tokenize(text, self.config.query_maxlen)))
        if not terms:
            return [], [], []
        td = self.catalog.read_arrow(
            "term_dict", ["term_id", "idf"], ds.field("term").isin(terms))
        if td is None:
            return None
        idf = dict(zip(td.column("term_id").to_pylist(),
                       td.column("idf").to_pylist()))
        if not idf:
            return [], [], []
        tids = sorted(idf)
        blocks = self.catalog.read_arrow(
            "postings", self._BLOCK_COLUMNS,
            ds.field("bucket").isin(
                posting_buckets(tids, self.config.index_partitions))
            & ds.field("term_id").isin(tids),
        ).to_pandas()
        blocks = blocks.sort_values(["term_id", "block_id"], ignore_index=True)
        blocks["idf"] = blocks["term_id"].map(idf)
        allowed = None if pids is None else np.unique(
            np.asarray(pids, dtype=np.int64))
        top, scores = wand.score_query_blocks(blocks, k, self.avgdl,
                                              excluded=self.tombstones,
                                              allowed=allowed)
        return ([int(p) for p in top], list(range(1, top.size + 1)),
                [float(s) for s in scores])

    def _provenance(self, k: int) -> dict:
        return {
            "engine": "colbert_spark",
            "index": str(self.catalog.root),
            "k": k,
            "mode": "scatter",  # the one batch plan; kept for .meta shape
            "config": asdict(self.config),
        }


def _check_k(k: int) -> None:
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
