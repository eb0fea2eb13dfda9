"""Index segment merging — N independently built indexes → ONE index
with globally exact statistics.

The distributed-build complement of the Indexer: shard corpora build in
parallel (per crawl slice, per pid range), then merge_indexes folds the
shards bottom-up into one searchable index — Lucene's segment-merge
semantics at the index level. Unlike appending (IndexUpdater.add, which
FREEZES the base index's statistics), a merge recomputes every global
statistic exactly — num_docs, avgdl, per-term df/cf/idf, block-max
scores — so searching the merged index is bit-identical to having
indexed the union corpus in one build (the driver-checked contract of
the `search_after_merge` oracle entry).

No id remapping is needed anywhere: term_id is content-derived
(xxhash64 of the term, builder.term_dict_from_agg), so the same term in
two shards already carries the same id, and shard pid spaces are
required to be disjoint (guarded — a collision would silently merge two
documents' postings).

Reference analog: the reference merges sharded RANKINGS
(utility/rankings/merge.py) but has no index merge; this is the fold
step of a sharded build.

Plan shape: the postings re-blockify through the build's one kernel
(builder._blockify) with salts from the merged df, fed by the hybrid feed
(builder._hybrid_rows). The union of source tombstones is one
driver-held pair (catalog.collect_tombstones), folded epoch-bounded by
the kernel and by the per-block (df, cf) stats pass
(builder.block_term_stats). The result equals a fresh build of the live
union, payload bytes included (pytest-pinned), and commits through the
Indexer's `write_index`. Sources without per-version file lists are
rejected (rebuild them).
"""

from __future__ import annotations

import time
from dataclasses import asdict
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from colbert_spark.functions import bm25
from colbert_spark.operators import builder
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.indexer import write_index
from colbert_spark.sources.catalog import (
    collect_tombstones,
    drop_removed,
    make_catalog,
    tombstone_bounds,
)


def merge_indexes(
    spark: SparkSession,
    source_names: list[str],
    dest_name: str,
    config: ColBERTConfig | None = None,
    overwrite: bool = False,
) -> str:
    """Merge the named source indexes into a fresh index `dest_name`.

    Every global statistic is recomputed from the union of live
    postings, so frozen-stats drift from the shards' builds (or from
    appends into them) is erased — the merged index scores exactly as a
    fresh full-corpus build. Sources are untouched. Returns the dest
    index root.

    A SINGLE source is the optimize / stats-recompute merge (Lucene
    forceMerge(1) analog): after a run of IndexUpdater appends and
    removals, merging the index into a fresh name folds the tombstones
    physically AND erases the frozen-stats approximation in one pass —
    the finishing step of an incremental-crawl cycle (the
    `incremental_crawl_search` oracle entry drives it end-to-end).
    """
    if not source_names:
        raise ValueError("merge_indexes needs at least one source index")
    cfg = ColBERTConfig.from_existing(config)
    cfg.index_name = dest_name
    dest = make_catalog(cfg)
    if dest.exists():
        if not overwrite:
            raise FileExistsError(
                f"index {dest.root} exists; pass overwrite=True")
        dest.delete()

    srcs = []
    for nm in source_names:
        c = ColBERTConfig.from_existing(config)
        c.index_name = nm
        cat = make_catalog(c)
        if not cat.exists():
            raise FileNotFoundError(f"source index {cat.root} not found")
        meta = cat.current()
        src_maxlen = meta.get("config", {}).get("doc_maxlen")
        if src_maxlen is not None and src_maxlen != cfg.doc_maxlen:
            # tf/doclen are analyzer products — merging across analyzer
            # settings would mix incomparable statistics
            raise ValueError(
                f"source {nm} was built with doc_maxlen={src_maxlen}, "
                f"dest config has {cfg.doc_maxlen}")
        srcs.append(cat)

    t0 = time.monotonic()
    tombs = [tombstone_bounds(c, spark) for c in srcs]
    tomb = collect_tombstones(tombs)
    blocks_all = reduce(
        DataFrame.unionByName,
        [cat.read(spark, "postings")
         .select("term_id", "block_id", "pids", "tfs", "dls")
         for cat in srcs],
    )
    tagg = builder.block_term_stats(blocks_all, tomb).persist()
    # live docs: minus the actively removed pids (re-added ones stay)
    doc_stats_df = reduce(DataFrame.unionByName, [
        drop_removed(c.read(spark, "doc_stats").select("pid", "doclen"), t)
        for c, t in zip(srcs, tombs)
    ]).persist()

    # ONE driver action for every merged statistic (the Indexer's stats
    # discipline): corpus stats × term-level totals
    row = (
        doc_stats_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("pid").alias("n_pids"),
            F.avg("doclen").alias("avgdl"),
        )
        .crossJoin(tagg.agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("df").alias("num_postings"),
        ))
        .collect()[0]
    )
    num_docs = int(row["n"])
    if num_docs == 0:
        raise ValueError("merged indexes contain no live documents")
    if int(row["n_pids"]) != num_docs:
        raise ValueError(
            f"pid spaces of merged indexes must be disjoint: {num_docs} "
            f"doc rows, {int(row['n_pids'])} distinct pids")
    avgdl = float(row["avgdl"])
    n_terms = int(row["n_terms"] or 0)
    num_postings = int(row["num_postings"] or 0)

    # merged dictionary: term strings from the shard dicts (identical
    # term_id for the same term — content-derived), stats recomputed;
    # terms whose postings are all tombstoned drop at the inner join
    terms = reduce(
        DataFrame.unionByName,
        [c.read(spark, "term_dict").select("term", "term_id") for c in srcs],
    ).distinct()
    term_dict = terms.join(tagg, "term_id").select(
        "term", "term_id", "df", "cf",
        bm25.idf(F.col("df"), num_docs).alias("idf"),
    ).persist()

    dict_slice = term_dict.select(
        "term_id", builder._n_salts(F.col("df"), cfg))
    merged = builder._blockify(builder._hybrid_rows(blocks_all, dict_slice),
                               avgdl, cfg,
                               idf_table=term_dict.select("term_id", "idf"),
                               tomb=tomb)
    write_index(
        dest, spark, term_dict=term_dict, doc_stats=doc_stats_df,
        blocks=merged, buckets=list(range(cfg.index_partitions)),
        kept_rows=[], t0=t0, plan_json=True,
        meta={
            "config": asdict(cfg),
            "num_docs": num_docs,
            "avg_doclen": avgdl,
            "num_terms": n_terms,
            "num_postings": num_postings,
            "merged_from": list(source_names),
        },
    )
    doc_stats_df.unpersist()
    tagg.unpersist()
    term_dict.unpersist()
    return str(dest.root)
