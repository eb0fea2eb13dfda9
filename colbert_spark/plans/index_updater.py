"""IndexUpdater — incremental index maintenance without a rebuild.

Parity: colbert/index_updater.py:28-274 (add :97-148, remove :57-95,
persist_to_disk :176-273). The reference appends compressed embeddings and
patches the IVF in memory, WITHOUT retraining centroids; our analog
appends posting segments computed against FROZEN corpus statistics
(N, avgdl, idf unchanged) and removes docs via tombstones. Scores for new
docs therefore use the stats frozen at build time — the exact same
approximation the reference makes by not re-running k-means.

LSM-style epoch model (r5): every append writes under a fresh epoch
(salt namespace `_ADD_SALT_BASE + seq`, seq a monotone counter in
metadata.json; block epoch = block_id >> 32). A tombstone row is
(pid, before_epoch, readded): decode-time exclusion drops the pid ONLY
from blocks with epoch < before_epoch. Re-adding a removed pid is
therefore a PURE APPEND — zero existing blocks or files are touched; the
old postings stay excluded by the epoch bound while the new ones (epoch
≥ before_epoch) score normally. This is the O(batch) answer to the
reference updater's patch-only-affected-chunks goal
(colbert/index_updater.py:176-273) — it patches NOTHING at all and lets
compaction (`coalesce_index` / `maintain()`) fold the debt physically.

remove(pids) → lazy: tombstone rows with before_epoch = next epoch.
add(docs)    → append-only: new segments in a fresh epoch; re-added pids
               get their tombstone stamped readded=<epoch> (they are live
               again; the row keeps excluding their old postings).
purge(pids)  → EAGER physical removal: remove(pids), then coalesce_index
               folds every tombstone out of the blocks and doc_stats.
maintain()   → debt-driven compaction (appended/tombstone fractions).

Each starts from the current version and ends in ONE commit of
metadata.json (IndexCatalog.commit): a crashed add publishes nothing,
and pinned readers (Searcher) keep their version. One writer per index.

Build salts stay < _ADD_SALT_BASE = 2^20: n_salts = ceil(df /
max_group_postings) ≤ 10^12 / 2^20 ≈ 9.5e5 even for a head term over a
10^12-doc corpus at the default group bound.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from colbert_spark.functions import bm25 as bm25f
from colbert_spark.operators import builder
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.sources.catalog import (
    drop_removed,
    make_catalog,
    tombstone_bounds,
)

_ADD_SALT_BASE = 1 << 20  # keeps appended block_ids disjoint from build-time

#: tombstone table schema (epoch model)
TOMBSTONES_SCHEMA = "pid long, before_epoch long, readded long"


class IndexUpdater:
    def __init__(self, index: str, spark: SparkSession,
                 config: ColBERTConfig | None = None):
        self.spark = spark
        cfg = ColBERTConfig.from_existing(config)
        cfg.index_name = index
        self.config = cfg
        self.catalog = make_catalog(cfg)
        meta = self.catalog.current()
        self.num_docs: int = meta["num_docs"]
        self.avgdl: float = meta["avg_doclen"]

    # -- remove ------------------------------------------------------------
    def remove(self, pids: list[int]) -> None:
        """Lazy removal: tombstone rows excluding every epoch written so
        far (build blocks' epochs are < _ADD_SALT_BASE < before_epoch).
        Re-removing a re-added pid moves its bound past the newer
        postings too. O(|pids|) — never touches postings; an empty pid
        list returns before any job."""
        pids = [int(p) for p in pids]
        if not pids:
            return
        seq = int(self.catalog.record().get("append_seq", 0))
        before = _ADD_SALT_BASE + seq
        new = self.spark.createDataFrame(
            [(p, before, None) for p in pids], TOMBSTONES_SCHEMA
        ).dropDuplicates(["pid"])
        old = tombstone_bounds(self.catalog, self.spark)
        if old is not None:
            merged = old.join(new, "pid", "left_anti").unionByName(new)
        else:
            merged = new
        # the merge stays in Spark; only readers and folds collect it
        with self.catalog.transaction():
            self.catalog.write(merged, "tombstones")
            self.catalog.commit()

    # -- add ---------------------------------------------------------------
    def add(self, docs: DataFrame, id_col: str = "pid",
            text_col: str = "text") -> None:
        """Append postings for new docs under frozen corpus stats in a
        fresh epoch. PURE APPEND — including re-adds of removed pids:
        their old postings stay excluded by the tombstone's epoch bound
        (readded stamps them live again), so no existing block or file is
        read or written. A pid may be added only if absent from the live
        view (present in doc_stats and not actively tombstoned)."""
        cfg = self.config
        added = docs.select(F.col(id_col).alias("pid")).distinct()
        tombs = tombstone_bounds(self.catalog, self.spark)
        # ONE read of doc_stats serves the clash check here and the
        # doc_stats rewrite below
        stats = self.catalog.read(self.spark, "doc_stats")
        # ONE driver action answers both planner questions (job-count
        # discipline — each action costs fixed scheduling latency): the
        # live-pid clash count AND whether any added pid re-adds a
        # tombstoned one (decides the tombstone restamp below without a
        # separate take(1) job)
        clash_agg = drop_removed(stats.select("pid"), tombs).join(
            added, "pid", "left_semi").agg(F.count(F.lit(1)).alias("n"))
        if tombs is not None:
            readd_agg = tombs.join(added, "pid", "left_semi").agg(
                F.count(F.lit(1)).alias("nr"))
            row = clash_agg.crossJoin(readd_agg).collect()[0]
            clash, n_readd = int(row["n"]), int(row["nr"])
        else:
            clash, n_readd = int(clash_agg.collect()[0]["n"]), 0
        if clash:
            raise ValueError(
                f"{clash} pid(s) already live in the index; remove() them first"
            )
        seq = int(self.catalog.record().get("append_seq", 0))
        epoch = _ADD_SALT_BASE + seq  # committed below as append_seq + 1
        token_df = builder.tokenize(docs, cfg, id_col=id_col, text_col=text_col)
        if id_col != "pid":
            token_df = token_df.withColumnRenamed(id_col, "pid")

        # three actions read the batch's tokens (postings append, new_terms,
        # doc_stats): tokenize once. Nothing is visible before the one
        # commit at the end, so a crash publishes nothing.
        token_df = token_df.persist()
        try:
            with self.catalog.transaction():
                term_dict = self.catalog.read(self.spark, "term_dict")
                # frozen idf for known terms; brand-new terms get idf at df=0
                # under the frozen N (max idf — consistent with "stats not
                # retrained")
                known = term_dict.select("term", "term_id", "idf")
                enriched = token_df.join(
                    F.broadcast(known), "term", "left"
                ).select(
                    F.coalesce("term_id", F.xxhash64("term")).alias("term_id"),
                    "pid", "tf", "doclen",
                    F.coalesce(
                        "idf", bm25f.idf(F.lit(0), self.num_docs)
                    ).alias("idf"),
                )
                # the build's block kernel, in this append's disjoint epoch
                # namespace; idf rides inline
                blocks = builder._blockify(
                    enriched.withColumn("salt", F.lit(epoch).cast("long")),
                    self.avgdl, cfg,
                )
                # co-locate each bucket into one task before the partitionBy
                # write (as the build does): else an append fans out into up
                # to tasks×buckets tiny files (655 for a 50-doc append at
                # 32×32). AQE coalesces whole hash partitions, so a bucket
                # never splits across tasks.
                self.catalog.write(
                    blocks.repartition("bucket")
                    .sortWithinPartitions("term_id", "block_id"),
                    "postings", mode="append", partition_by=["bucket"],
                )
                # brand-new terms must enter the dictionary or they're
                # unsearchable; their idf stays the frozen-stats df=0 value used
                # for their blocks
                new_terms = (
                    token_df.select("term").distinct()
                    .join(term_dict.select("term"), "term", "left_anti")
                    .select(
                        "term",
                        F.xxhash64("term").alias("term_id"),
                        F.lit(0).cast("long").alias("df"),
                        F.lit(0).cast("long").alias("cf"),
                        bm25f.idf(F.lit(0), self.num_docs).alias("idf"),
                    )
                )
                # doc_stats: drop any stale row for re-added pids, append
                # the new ones — a rewrite that reads its own table
                old_stats = stats.join(added, "pid", "left_anti")
                merged_stats = old_stats.unionByName(builder.doc_stats(token_df))
                # the three finalize mutations touch independent tables —
                # overlap their fixed per-job scheduling latencies in one pool
                # (the Indexer's commit discipline)
                jobs = [
                    lambda: self.catalog.write(new_terms, "term_dict",
                                               mode="append"),
                    lambda: self.catalog.write(merged_stats, "doc_stats"),
                ]
                # stamp re-added pids live again (their tombstone row keeps
                # excluding the OLD postings — epoch bound — while this epoch's
                # postings score normally); n_readd came from the clash action
                if tombs is not None and n_readd:
                    readded = (
                        tombs.join(added, "pid", "left_semi")
                        .withColumn("readded", F.lit(epoch))
                    )
                    rest = tombs.join(added, "pid", "left_anti")
                    jobs.append(lambda: self.catalog.write(
                        rest.unionByName(readded), "tombstones"))
                with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
                    for fut in [pool.submit(j) for j in jobs]:
                        fut.result()
                self.catalog.commit(append_seq=seq + 1)
        finally:
            token_df.unpersist()

    # -- eager physical removal -------------------------------------------
    def purge(self, pids: list[int]) -> None:
        """EAGER physical removal: remove(pids), then coalesce_index folds
        every tombstone — the pids' postings leave the blocks, their
        doc_stats rows go and the tombstones table is deleted. A crash
        between the two steps leaves the remove view; the next purge or
        coalesce finishes the fold. An empty pid list returns before any
        job."""
        pids = [int(p) for p in pids]
        if not pids:
            return
        self.remove(pids)
        builder.coalesce_index(self.catalog, self.config, self.avgdl)

    # -- maintenance -------------------------------------------------------
    def segment_debt(self) -> dict:
        """Compaction debt from block metadata only (block_id alone): the
        fraction of blocks in the appended-segment namespace (epoch ≥
        _ADD_SALT_BASE, written by add() under frozen stats) and the
        tombstoned fraction of docs. Both grow between coalesce runs and
        both slow queries down."""
        blocks = self.catalog.read(self.spark, "postings").select("block_id")
        row = blocks.agg(
            F.count(F.lit(1)).alias("blocks"),
            F.sum(
                F.when(
                    F.shiftright("block_id", 32) >= _ADD_SALT_BASE, 1
                ).otherwise(0)
            ).alias("appended"),
        ).first()
        tombs = tombstone_bounds(self.catalog, self.spark)
        n_tombs = tombs.count() if tombs is not None else 0
        blocks_n = int(row["blocks"] or 0)
        appended = int(row["appended"] or 0)
        return {
            "blocks": blocks_n,
            "appended_blocks": appended,
            "appended_fraction": appended / blocks_n if blocks_n else 0.0,
            "tombstones": n_tombs,
            "tombstone_fraction": (n_tombs / self.num_docs
                                   if self.num_docs else 0.0),
        }

    def maintain(self, max_appended_fraction: float = 0.2,
                 max_tombstone_fraction: float = 0.2) -> bool:
        """Debt-driven compaction: coalesce the index iff the appended or
        tombstoned fraction exceeds its threshold; returns True when a
        compaction ran. Call it on a schedule, or let
        stream_index_append's auto_maintain call it per applied batch."""
        debt = self.segment_debt()
        if (debt["appended_fraction"] <= max_appended_fraction
                and debt["tombstone_fraction"] <= max_tombstone_fraction):
            return False
        builder.coalesce_index(self.catalog, self.config, self.avgdl)
        return True

    def persist_to_disk(self) -> None:
        """No-op: every mutation above is already durable (the reference
        buffers in memory and flushes here, index_updater.py:176-273; Spark
        writes are immediate)."""
