"""Indexer — build the inverted index (API parity: colbert/indexer.py).

``Indexer.index(name, collection, overwrite=...)`` with the reference's
five overwrite modes (colbert/indexer.py:60-82):
    False                    — fail if the index exists
    True                     — warn + delete + rebuild
    'force_silent_overwrite' — delete + rebuild, no warning
    'reuse'                  — return the existing index path untouched
    'resume'                 — rebuild ONLY buckets missing from the manifest,
                               over a fresh listing of the files on disk
                               (analog of chunk-exists skip,
                               collection_indexer.py:360-363 +
                               index_saver.py:30-50)

Build phases mirror CollectionIndexer.run (collection_indexer.py:61-78):
setup (plan.json) → train (term dict + corpus stats) → index (salted block
build) → commit (`write_index`: the tables, then the manifest, then one
metadata.json that lists their files; collection_indexer.py:378-497). `merge_indexes` ends
through the same `write_index`. Per-bucket manifest rows carry lineage +
metrics (north_rule): content fingerprint, block/posting counts, encoded
bytes, wall time.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
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


def write_index(cat, spark: SparkSession, *, term_dict: DataFrame,
                doc_stats: DataFrame, blocks: DataFrame, buckets: list[int],
                kept_rows: list[tuple], meta: dict, t0: float,
                plan_json: bool = False) -> None:
    """Commit a built index: term_dict, doc_stats and the postings of
    `buckets` (appended when `kept_rows` carries manifest rows of earlier
    buckets, else overwritten), then the manifest, then one commit of
    `meta` (also written as plan.json when `plan_json`).

    The stats tables are written from driver threads beside the postings
    write. Manifest rows of `buckets` come from one column-pruned
    read-back of the written postings; bit_xor of xxhash64 is
    order-independent and overflow-free, and the build is deterministic,
    so the fingerprint doubles as an input-drift detector for resume. A
    bucket with no blocks, or an index with no postings, gets an "empty"
    row."""
    with cat.transaction(), ThreadPoolExecutor(max_workers=3) as pool:
        futures = [
            pool.submit(cat.write, term_dict, "term_dict"),
            pool.submit(cat.write, doc_stats, "doc_stats"),
        ]
        if buckets:
            futures.append(pool.submit(
                cat.write,
                blocks.repartition("bucket")
                .sortWithinPartitions("term_id", "block_id"),
                "postings", "append" if kept_rows else "overwrite",
                ["bucket"],
            ))
        for fut in futures:
            fut.result()
        wall_ms = int((time.monotonic() - t0) * 1000)
        written = {}
        if buckets and meta["num_postings"] > 0:
            written = {
                r[0]: tuple(r[1:])
                for r in cat.read(spark, "postings")
                .filter(F.col("bucket").isin(buckets))
                .groupBy("bucket")
                .agg(
                    F.bit_xor(F.xxhash64("term_id", "block_id", "first_pid",
                                         "num_postings")).cast("string"),
                    F.count(F.lit(1)),
                    F.sum("num_postings"),
                    F.sum("enc_bytes"),
                )
                .collect()
            }
        rows = kept_rows + [
            (b, *written.get(b, ("empty", 0, 0, 0)), wall_ms, "ok")
            for b in buckets
        ]
        cat.write(spark.createDataFrame(rows, MANIFEST_SCHEMA), "manifest")
        meta = {**meta, "buckets_built_this_run": buckets, "wall_ms": wall_ms}
        if plan_json:
            cat.write_json("plan.json", meta)
        cat.commit(**meta)


class Indexer:
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

        # ---- setup + train: tokens, corpus stats, term dictionary --------
        # job-count discipline: each driver action costs ~0.5-2s of fixed
        # scheduling latency, so stats fold into as few actions as possible
        token_df = builder.tokenize(collection, cfg).persist()
        # doc stats straight from the source (map-only), not via token_df —
        # no shuffle, and it doesn't force an early token materialization
        from colbert_spark.functions.analysis import doclen as _doclen

        doc_stats_df = collection.select(
            F.col("pid"), _doclen("text", cfg.doc_maxlen).alias("doclen")
        ).persist()
        # ONE action for all build statistics: corpus stats × idf-free term
        # stats (idf needs num_docs), a crossJoin of two 1-row aggregates
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
        # over the files on disk now (the repair path); ONE collect of the
        # ok manifest rows gives the done buckets and the rows to keep
        kept_rows: list[tuple] = []
        if overwrite == "resume":
            cat.pin(cat.relist())
            if cat.table_exists("manifest"):
                kept_rows = [
                    tuple(r)
                    for r in cat.read(spark, "manifest")
                    .filter(F.col("status") == "ok")
                    .collect()
                ]
        done = {r[0] for r in kept_rows}
        todo = sorted(set(range(cfg.index_partitions)) - done)

        # ---- index: salted posting-block build ---------------------------
        blocks = builder.build_postings(token_df, term_dict, avgdl, cfg)
        if done:
            blocks = blocks.filter(F.col("bucket").isin(todo))

        write_index(
            cat, spark, term_dict=term_dict, doc_stats=doc_stats_df,
            blocks=blocks, buckets=todo, kept_rows=kept_rows, t0=t0,
            meta={
                "config": asdict(cfg),
                "num_docs": num_docs,
                "avg_doclen": avgdl,
                "num_terms": int(n_terms),
                "num_postings": int(num_postings),
            },
        )
        token_df.unpersist()
        doc_stats_df.unpersist()
        term_agg_df.unpersist()
        return str(cat.root)
