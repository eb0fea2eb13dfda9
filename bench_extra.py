"""Per-probe measurement harness for optimization work (r6).

bench.py is FROZEN for the driver's round-over-round comparison; this
file exists so individual probes can be re-measured in isolation while
iterating (guide §1.4: noop-sink isolation; §1.5: labeled jobs).

Usage:
    python bench_extra.py [probe ...]         # default: all
    SPARK_GRAFT_REPS=3 python bench_extra.py dedup_simhash128_10

Prints one JSON line per probe: {"probe": name, "walls": [...], "min": s}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import pyspark.sql.functions as F

from colbert_spark import caching, entry_queries
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.indexer import Indexer
from colbert_spark.plans.searcher import Searcher
from colbert_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "2"))
    spark = get_spark(app_name="colbert-spark-bench-extra", cpus=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").alias("pid"), "text")
    )
    n_docs = docs.count()
    queries = spark.createDataFrame(entry_queries.QUERY_SET, "qid long, text string")
    all_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")

    from colbert_spark.operators import builder as _builder
    from colbert_spark.operators import dedup, fielded, linkgraph, similarity
    from colbert_spark.functions import analysis as _ana
    from colbert_spark.plans.index_updater import IndexUpdater
    from colbert_spark.plans.merger import merge_indexes
    from colbert_spark.sources.catalog import make_catalog
    from colbert_spark.sources.datagen import generate_documents
    import dataclasses as _dc

    cfg = ColBERTConfig(index_root="/tmp/colbert_spark_indexes",
                        index_name="bench")
    cfg_big = ColBERTConfig(index_root="/tmp/colbert_spark_indexes",
                            index_name="bench100k")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")

    def _bench_pagerank():
        def _u(c):
            return F.concat(F.lit("https://h"), (c % 97).cast("string"),
                            F.lit(".com/p/"), c.cast("string"))
        ids = all_docs.select("doc_id")
        e1 = ids.select(_u(F.col("doc_id")).alias("src"),
                        _u((F.col("doc_id") * 3 + 1) % n_docs).alias("dst"))
        e2 = ids.select(_u(F.col("doc_id")).alias("src"),
                        _u((F.col("doc_id") * 7 + 2) % n_docs).alias("dst"))
        linkgraph.pagerank(e1.union(e2), iterations=3).count()

    def _bench_bm25f():
        toks = all_docs.select(F.col("doc_id").alias("pid"),
                               _ana.tokens("text").alias("_t"))
        title = toks.select(
            "pid", F.lit("title").alias("field"),
            F.array_join(F.slice("_t", 1, 5), " ").alias("text"))
        body = toks.select(
            "pid", F.lit("body").alias("field"),
            F.array_join(F.expr("slice(_t, 6, greatest(size(_t) - 5, 0))"),
                         " ").alias("text"))
        fielded.bm25f_topk(title.unionByName(body), queries,
                           {"title": 2.0, "body": 1.0}, k=10).count()

    def _bench_redirects():
        from colbert_spark.operators.webcrawl import resolve_redirects

        ids = spark.range(1_000_000).select(F.col("id"))
        srcs = ids.filter(F.col("id") % 50 != 49)
        dst_id = F.when(
            (F.col("id") % 500 == 48),
            F.col("id") - 48,
        ).otherwise(F.col("id") + 1)

        def _u(c):
            return F.concat(F.lit("https://r"), (c % 89).cast("string"),
                            F.lit(".com/u/"), c.cast("string"))

        edges = srcs.select(_u(F.col("id")).alias("src"),
                            _u(dst_id).alias("dst"))
        resolve_redirects(edges, max_hops=64).count()

    # ---- 100k corpus + index fixtures (built on demand) -----------------
    big_path = "/tmp/colbert_bench_corpus_100k"

    def _big():
        if not os.path.exists(big_path + "/_SUCCESS"):
            generate_documents(spark, 100_000, partitions=64).write.mode(
                "overwrite").parquet(big_path)
        return spark.read.parquet(big_path).select(
            F.pmod(F.xxhash64("url"), F.lit(1 << 62)).alias("pid"), "text")

    def _probe_index_build():
        Indexer(cfg).index("bench", docs, overwrite="force_silent_overwrite")

    def _searcher():
        if not make_catalog(cfg).exists():
            _probe_index_build()
        return Searcher("bench", spark, cfg)

    def _probe_index_build_100k():
        Indexer(cfg_big).index("bench100k", _big(),
                               overwrite="force_silent_overwrite")

    def _probe_coalesce_100k():
        _probe_index_build_100k()
        IndexUpdater("bench100k", spark, cfg_big).remove([1, 2, 3])
        _cat_big = make_catalog(cfg_big)
        _avgdl = _cat_big.read_json("metadata.json")["avg_doclen"]
        t0 = time.monotonic()
        _builder.coalesce_index(_cat_big, cfg_big, _avgdl)
        return time.monotonic() - t0

    def _probe_readd_100k():
        big = _big()
        if not make_catalog(cfg_big).exists():
            _probe_index_build_100k()
        _victim_rows = big.limit(50).collect()
        _victim_ids = [r["pid"] for r in _victim_rows]
        _victims = spark.createDataFrame(_victim_rows, big.schema)
        t0 = time.monotonic()
        IndexUpdater("bench100k", spark, cfg_big).remove(_victim_ids)
        IndexUpdater("bench100k", spark, cfg_big).add(_victims)
        return time.monotonic() - t0

    def _probe_purge_100k():
        big = _big()
        _probe_index_build_100k()
        _victim_rows = big.limit(50).collect()
        _victim_ids = [r["pid"] for r in _victim_rows]
        t0 = time.monotonic()
        IndexUpdater("bench100k", spark, cfg_big).purge(_victim_ids)
        return time.monotonic() - t0

    def _probe_merge_100k():
        big = _big()
        for _half, _nm in ((0, "bench50k_a"), (1, "bench50k_b")):
            _cfg_sh = _dc.replace(cfg_big, index_name=_nm)
            Indexer(_cfg_sh).index(_nm, big.filter(F.col("pid") % 2 == _half),
                                   overwrite="force_silent_overwrite")
        t0 = time.monotonic()
        merge_indexes(spark, ["bench50k_a", "bench50k_b"],
                      "bench100k_merged", cfg_big, overwrite=True)
        return time.monotonic() - t0

    def _probe_rerank():
        searcher = _searcher()
        allow = searcher.search_all(queries, k=20).df.select("qid", "pid")
        allow_rows = allow.collect()
        allow_df = spark.createDataFrame(allow_rows, "qid long, pid long")
        t0 = time.monotonic()
        searcher.search_all(queries, k=10, qid_to_pids=allow_df).df.collect()
        return time.monotonic() - t0

    probes = {
        "index_build": _probe_index_build,
        "search_all": lambda: _searcher().search_all(queries, k=10).df.collect(),
        # same call as search_all; the key keeps the probe board's shape
        "search_scatter": lambda: _searcher().search_all(
            queries, k=10).df.collect(),
        "bm25_brute": lambda: entry_queries.q_bm25_top10(spark, sf_dir).collect(),
        "dedup_minhash": lambda: entry_queries.q_dedup_minhash(spark, sf_dir).collect(),
        "ann_cosine": lambda: entry_queries.q_ann_cosine_top5(spark, sf_dir).collect(),
        "tpch_q1": lambda: entry_queries.q_tpch_q1_pricing(spark, sf_dir).collect(),
        "dedup_simhash10": lambda: dedup.simhash_near_pairs(
            all_docs, max_hamming=10).count(),
        "dedup_simhash128_10": lambda: dedup.simhash_near_pairs128(
            all_docs, max_hamming=10).count(),
        "dedup_embedding_lsh": lambda: similarity.cosine_near_pairs(
            emb, threshold=0.95, blocking="lsh").count(),
        "decontaminate_ngram": lambda: entry_queries.q_decontaminate_ngram(
            spark, sf_dir).count(),
        "shared_ngram_stats": lambda: entry_queries.q_shared_ngram_stats(
            spark, sf_dir).count(),
        "quality_unigram": lambda: entry_queries.q_quality_unigram(
            spark, sf_dir).count(),
        "line_dedup_full": lambda: dedup.line_dedup(
            entry_queries.lined_docs(all_docs)).count(),
        "ann_ivfpq": lambda: entry_queries.q_ann_ivfpq_top5(spark, sf_dir).count(),
        "hybrid_rrf": lambda: entry_queries.q_hybrid_rrf_top10(spark, sf_dir).count(),
        "bm25_prf": lambda: entry_queries.q_bm25_prf_top10(spark, sf_dir).count(),
        "link_pagerank_full": _bench_pagerank,
        "collocations_pmi": lambda: entry_queries.q_collocations_pmi(
            spark, sf_dir).count(),
        "bm25f_full": _bench_bm25f,
        "resolve_redirects_1m": _bench_redirects,
        "rerank_allowlist": _probe_rerank,
        "index_build_100k": _probe_index_build_100k,
        "index_coalesce_100k": _probe_coalesce_100k,
        "index_readd_epoch_100k": _probe_readd_100k,
        "index_purge_surgery_100k": _probe_purge_100k,
        "index_merge_100k": _probe_merge_100k,
    }
    # probes whose setup mutates one-shot state: timed inside (they return
    # their own wall), one rep only unless asked
    one_shot = {"index_coalesce_100k", "index_readd_epoch_100k",
                "index_purge_surgery_100k", "index_merge_100k",
                "rerank_allowlist"}

    names = sys.argv[1:] or list(probes)
    for name in names:
        fn = probes[name]
        walls = []
        n = 1 if name in one_shot and reps == 2 else reps
        for _ in range(n):
            spark.sparkContext.setJobDescription(f"probe:{name}")
            t0 = time.monotonic()
            ret = fn()
            wall = ret if isinstance(ret, float) else time.monotonic() - t0
            walls.append(round(wall, 3))
            caching.drain()
            spark.sparkContext.setJobDescription(None)
        print(json.dumps({"probe": name, "walls": walls,
                          "min": min(walls)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
