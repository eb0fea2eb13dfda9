"""Indexer — build the inverted index (API parity: colbert/indexer.py).

``Indexer.index(name, collection, overwrite=...)`` with the reference's
five overwrite modes (colbert/indexer.py:60-82):
    False                    — fail if the index exists
    True                     — warn + delete + rebuild
    'force_silent_overwrite' — delete + rebuild, no warning
    'reuse'                  — return the existing index path untouched
    'resume'                 — rebuild ONLY buckets missing from the manifest
                               (analog of chunk-exists skip,
                               collection_indexer.py:360-363 +
                               index_saver.py:30-50)

Build phases mirror CollectionIndexer.run (collection_indexer.py:61-78):
setup (plan.json) → train (term dict + corpus stats) → index (salted block
build) → finalize (manifest + metadata.json). Per-bucket manifest rows
carry lineage + metrics (north_rule): input fingerprint, block/posting
counts, encoded bytes, wall time.
"""

from __future__ import annotations

import time
from dataclasses import asdict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from colbert_spark.operators import builder
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.sources.catalog import make_catalog

MANIFEST_SCHEMA = (
    "bucket long, input_fingerprint string, num_blocks long, "
    "num_postings long, bytes_written long, wall_ms long, status string"
)


class Indexer:
    #: per-bucket observe() pivots 4 aggregates per bucket into the write
    #: job; past this many buckets the expression blow-up costs more than
    #: the column-pruned read-back pass it replaces. r6: measured on the
    #: 100k/32-bucket build — the 128-expression CollectMetrics is
    #: evaluated interpreted per block row and cost ~0.6 s vs the
    #: read-back job's ~0.1 s (its scan touches only 4 footer-backed int
    #: columns), and the gap widens with both blocks and buckets, so
    #: observe stays only where it is genuinely cheaper: single-digit
    #: bucket counts (small/test indexes, where one more Spark job is
    #: relatively expensive).
    _OBSERVE_MAX_BUCKETS = 8

    def __init__(self, config: ColBERTConfig | None = None):
        self.config = ColBERTConfig.from_existing(config)

    def index(
        self,
        name: str,
        collection: DataFrame,
        overwrite: bool | str = False,
    ) -> str:
        assert overwrite in (True, False, "reuse", "resume",
                             "force_silent_overwrite")
        cfg = self.config
        cfg.index_name = name
        cat = make_catalog(cfg)

        if cat.exists():
            if overwrite is False:
                raise FileExistsError(
                    f"index {cat.root} exists; pass overwrite=True/'reuse'/'resume'"
                )
            if overwrite == "reuse":
                return str(cat.root)
            if overwrite in (True, "force_silent_overwrite"):
                if overwrite is True:
                    print(f"#> overwriting index at {cat.root}")
                cat.delete()
        elif overwrite == "resume" and not cat.plan_exists():
            # nothing to resume — fresh build
            overwrite = True

        spark = collection.sparkSession
        t0 = time.monotonic()
        # Spark's FileStatusCache is session-wide: a resume after external
        # bucket loss (or this run's append) would otherwise serve stale
        # file listings to this build and to Searchers created afterwards.
        if cat.exists():
            cat.refresh(spark)

        # ---- setup + train: tokens, corpus stats, term dictionary --------
        # job-count discipline: each driver action costs ~0.5-2s of fixed
        # scheduling latency regardless of cluster size, which is exactly
        # what erodes N→4N scaling efficiency. Stats are folded into as few
        # actions as possible.
        token_df = builder.tokenize(collection, cfg)
        if cfg.cache_tokens:
            token_df = token_df.persist()
        # doc stats straight from the source (map-only), not via token_df —
        # no shuffle, and it doesn't force an early token materialization
        from colbert_spark.functions.analysis import doclen as _doclen

        doc_stats_df = collection.select(
            F.col("pid"), _doclen("text", cfg.doc_maxlen).alias("doclen")
        ).persist()
        # ONE action for all build statistics: corpus stats × term stats
        # (idf-free term_agg, since idf needs num_docs from this same
        # action). The crossJoin of two 1-row aggregates materializes both
        # persisted inputs in a single driver job.
        term_agg_df = builder.term_agg(token_df).persist()
        row = (
            doc_stats_df.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("pid").alias("n_pids"),
                F.avg("doclen").alias("avgdl"),
            )
            .crossJoin(
                term_agg_df.agg(
                    F.count("term").alias("n_terms"),
                    F.countDistinct(F.xxhash64("term")).alias("n_term_ids"),
                    F.sum("df").alias("num_postings"),
                )
            )
            .collect()[0]
        )
        num_docs = int(row["n"])
        if num_docs == 0:
            raise ValueError(
                "cannot index an empty collection (0 documents) — check the "
                "input filter/path"
            )
        if int(row["n_pids"]) != num_docs:
            # duplicate pids would silently merge two docs' postings
            # (reference asserts pid == line index, loaders.py:166)
            raise ValueError(
                f"collection pids must be unique: {num_docs} rows, "
                f"{int(row['n_pids'])} distinct pids "
                "(use sources.collection.assign_pids)"
            )
        # a non-empty corpus can still tokenize to nothing (e.g. binary-only
        # pages): build an empty-postings index; searches return no rows
        avgdl = float(row["avgdl"] or 0.0)
        n_terms, n_term_ids = row["n_terms"] or 0, row["n_term_ids"] or 0
        num_postings = row["num_postings"] or 0
        if n_terms != n_term_ids:  # xxhash64 collision — fail loudly
            raise RuntimeError(
                f"term_id hash collision: {n_terms} terms → {n_term_ids} ids"
            )
        term_dict = builder.term_dict_from_agg(term_agg_df, num_docs)

        cat.write_json(
            "plan.json",
            {
                "config": asdict(cfg),
                "num_docs": num_docs,
                "avg_doclen": avgdl,
                "num_terms": int(n_terms),
                "num_postings_est": int(num_postings),
                "num_buckets": cfg.index_partitions,
            },
        )

        # ---- resume: which buckets still need building? -------------------
        all_buckets = set(range(cfg.index_partitions))
        done: set[int] = set()
        if overwrite == "resume" and cat.table_exists("manifest"):
            done = {
                r["bucket"]
                for r in cat.read(spark, "manifest")
                .filter(F.col("status") == "ok")
                .collect()
            }
        todo = sorted(all_buckets - done)

        # ---- index: salted posting-block build ---------------------------
        blocks = builder.build_postings(token_df, term_dict, avgdl, cfg)
        if done:
            blocks = blocks.filter(F.col("bucket").isin(todo))

        # per-bucket lineage metrics ride the write itself (observe() →
        # CollectMetrics inside the write job): no second pass over the
        # written index. bit_xor of xxhash64 is order-independent and
        # overflow-free; the build is deterministic, so the content
        # fingerprint doubles as an input-drift detector for resume.
        # Pivoted per-bucket aggregates scale with index_partitions, so
        # beyond _OBSERVE_MAX_BUCKETS fall back to one column-pruned
        # read-back pass (never touches the binary posting columns).
        obs = None
        # Observation.get asserts if the write executed zero tasks (a
        # corpus that tokenizes to nothing) — skip observe and emit
        # all-empty manifest rows instead. A resume against a COMPLETE
        # manifest (todo == []) must also skip: observe() rejects an empty
        # aggregate list, and there is nothing to write anyway — the re-run
        # is a no-op that just refreshes metadata.json.
        if num_postings > 0 and todo and len(todo) <= self._OBSERVE_MAX_BUCKETS:
            from pyspark.sql import Observation

            obs = Observation("bucket_metrics")
            h = F.xxhash64("term_id", "block_id", "first_pid", "num_postings")
            aggs = []
            for bkt in todo:
                cond = F.col("bucket") == bkt
                aggs += [
                    F.count(F.when(cond, 1)).alias(f"nb_{bkt}"),
                    F.sum(F.when(cond, F.col("num_postings"))).alias(f"np_{bkt}"),
                    F.sum(F.when(cond, F.col("enc_bytes"))).alias(f"bw_{bkt}"),
                    F.bit_xor(F.when(cond, h)).alias(f"fp_{bkt}"),
                ]
            blocks = blocks.observe(obs, *aggs)

        # ---- postings write, with the three stats-table writes overlapped
        # (term_dict / doc_stats / corpus_stats depend only on the cached
        # stats inputs, not on the postings — submitting them from driver
        # threads lets their tasks back-fill the postings write's task
        # tail, guide-style concurrent jobs). The manifest still waits for
        # the postings write (its metrics come from it), and metadata.json
        # stays last — the index is "complete" only once it exists, so the
        # crash-visibility contract is unchanged.
        from concurrent.futures import ThreadPoolExecutor

        stats_df = spark.createDataFrame(
            [(num_docs, avgdl, int(n_terms), int(num_postings))],
            "num_docs long, avg_doclen double, num_terms long, num_postings long",
        )
        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = [
                pool.submit(cat.write, term_dict, "term_dict"),
                pool.submit(cat.write, doc_stats_df, "doc_stats"),
                pool.submit(cat.write, stats_df, "corpus_stats"),
            ]
            if todo:
                mode = "append" if done else "overwrite"
                futures.append(pool.submit(
                    cat.write,
                    blocks.repartition("bucket")
                    .sortWithinPartitions("term_id", "block_id"),
                    "postings", mode, ["bucket"],
                ))
            for fut in futures:
                fut.result()
        wall_ms = int((time.monotonic() - t0) * 1000)
        # manifest: every bucket gets a row (resume contract). Rows for
        # buckets built THIS run come from the write's observed metrics;
        # previously-built buckets keep their original manifest rows
        # (collected BEFORE the manifest dir is overwritten — tiny table).
        old_rows: list[tuple] = []
        if done:
            old_rows = [
                tuple(r)
                for r in cat.read(spark, "manifest")
                .filter(F.col("status") == "ok")
                .filter(F.col("bucket").isin(sorted(done)))
                .select("bucket", "input_fingerprint", "num_blocks",
                        "num_postings", "bytes_written", "wall_ms", "status")
                .collect()
            ]
        if not todo:
            new_rows = []
        elif num_postings == 0:
            # nothing was written; the postings dir has no parquet footers
            # to read back either
            new_rows = [
                (int(bkt), "empty", 0, 0, 0, wall_ms, "ok") for bkt in todo
            ]
        elif obs is not None:
            vals = obs.get
            new_rows = [
                (
                    int(bkt),
                    ("empty" if vals[f"fp_{bkt}"] is None
                     else str(vals[f"fp_{bkt}"])),
                    int(vals[f"nb_{bkt}"] or 0),
                    int(vals[f"np_{bkt}"] or 0),
                    int(vals[f"bw_{bkt}"] or 0),
                    wall_ms,
                    "ok",
                )
                for bkt in todo
            ]
        else:
            # fallback: one column-pruned read-back over this run's buckets
            per_bucket = {
                r["bucket"]: r
                for r in cat.read(spark, "postings")
                .filter(F.col("bucket").isin(todo))
                .groupBy("bucket")
                .agg(
                    F.count(F.lit(1)).alias("num_blocks"),
                    F.sum("num_postings").alias("num_postings"),
                    F.sum("enc_bytes").alias("bytes_written"),
                    F.bit_xor(
                        F.xxhash64("term_id", "block_id", "first_pid",
                                   "num_postings")
                    ).alias("fp"),
                )
                .collect()
            }
            new_rows = [
                (
                    int(bkt),
                    (str(per_bucket[bkt]["fp"]) if bkt in per_bucket
                     else "empty"),
                    int(per_bucket[bkt]["num_blocks"]) if bkt in per_bucket else 0,
                    int(per_bucket[bkt]["num_postings"]) if bkt in per_bucket else 0,
                    int(per_bucket[bkt]["bytes_written"]) if bkt in per_bucket else 0,
                    wall_ms,
                    "ok",
                )
                for bkt in todo
            ]
        manifest = spark.createDataFrame(old_rows + new_rows, MANIFEST_SCHEMA)
        cat.write(manifest, "manifest")
        cat.write_json(
            "metadata.json",
            {
                "config": asdict(cfg),
                "num_docs": num_docs,
                "avg_doclen": avgdl,
                "num_terms": int(n_terms),
                "num_postings": int(num_postings),
                "buckets_built_this_run": todo,
                "wall_ms": wall_ms,
            },
        )
        if cfg.cache_tokens:
            token_df.unpersist()
        doc_stats_df.unpersist()
        term_agg_df.unpersist()
        # drop listings captured mid-build so post-build readers see the
        # final file set (matters for append-mode resume in one session)
        cat.refresh(spark)
        return str(cat.root)
