"""Headline benchmark — one JSON line for the driver.

Times the engine's flagship paths at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]:

  index_build   — full inverted-index build (tokenize → term dict → salted
                  varint blocks → manifest) over the documents table
  search_all    — batch BM25 top-10 for the fixed query set via the built
                  index (the scatter plan)
  search_scatter— the same call again; the key is kept so the 27-probe
                  board keeps its shape
  bm25_brute    — index-free distributed BM25 (the oracle-checked path)
  dedup_minhash — MinHash+LSH near-dup pairs over documents
  ann_cosine    — brute cosine top-5 over embeddings
  tpch_q1       — scan+agg baseline over lineitem (Catalyst sanity anchor)

Scaling evidence (N vs 4N cores) lives in scripts/bench_scaling.py →
BENCH.md; this file is the per-round single-config measurement.
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
    spark = get_spark(app_name="colbert-spark-bench", cpus=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").alias("pid"), "text")
    )
    n_docs = docs.count()
    queries = spark.createDataFrame(entry_queries.QUERY_SET, "qid long, text string")
    timings: dict[str, float] = {}

    def timed(name: str, fn, reps: int = 2) -> None:
        """Best-of-N wall time: the box is multi-tenant-noisy (identical
        jobs vary up to ±50% across consecutive runs — BENCH.md hardware
        probes), so min over reps is the least-contended estimate, same
        methodology as scripts/bench_scaling.py. Probes with one-shot
        state (compaction) pass reps=1."""
        walls = []
        for _ in range(reps):
            t0 = time.monotonic()
            fn()
            walls.append(time.monotonic() - t0)
            # operators pin MEMORY_AND_DISK caches through caching.register
            # (minhash sigs, brute token table, near-pair slim table …);
            # release them outside the timed window so every probe — this
            # one's next rep AND all later probes — runs from a clean cache
            # state instead of inheriting a resident cache
            caching.drain()
        timings[name] = round(min(walls), 3)

    cfg = ColBERTConfig(index_root="/tmp/colbert_spark_indexes",
                        index_name="bench")
    timed("index_build",
          lambda: Indexer(cfg).index("bench", docs,
                                     overwrite="force_silent_overwrite"))
    searcher = Searcher("bench", spark, cfg)
    timed("search_all",
          lambda: searcher.search_all(queries, k=10).df.collect())
    timed("search_scatter",
          lambda: searcher.search_all(queries, k=10).df.collect())
    timed("bm25_brute",
          lambda: entry_queries.q_bm25_top10(spark, sf_dir).collect())
    timed("dedup_minhash",
          lambda: entry_queries.q_dedup_minhash(spark, sf_dir).collect())
    timed("ann_cosine",
          lambda: entry_queries.q_ann_cosine_top5(spark, sf_dir).collect())
    timed("tpch_q1",
          lambda: entry_queries.q_tpch_q1_pricing(spark, sf_dir).collect())

    # new in r2: guaranteed-recall SimHash banding over the FULL sf corpus
    from colbert_spark.operators import dedup

    all_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    timed("dedup_simhash10",
          lambda: dedup.simhash_near_pairs(all_docs, max_hamming=10).count())
    # r3: same radius over the 128-bit signature — single-band plan (11
    # selective keys/doc vs 66 two-band keys at 64-bit), the scale path
    # for large-radius near-dup
    timed("dedup_simhash128_10",
          lambda: dedup.simhash_near_pairs128(all_docs, max_hamming=10).count())

    # r4: embedding near-dup through the slim LSH self-join (band rows
    # carry (id, bucket) only; vectors re-attach post-dedup — PLANS.md)
    from colbert_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    timed("dedup_embedding_lsh",
          lambda: similarity.cosine_near_pairs(
              emb, threshold=0.95, blocking="lsh").count())

    # r5: the three heaviest new curation operators, tracked round-over-
    # round — eval-set n-gram decontamination (broadcast benchmark grams,
    # one corpus scan), cross-document duplicated-span stats (slim
    # (id, gram) table + hit-indicator re-attach), and unigram-LM quality
    # scoring (corpus-own LM: tiny totals agg → broadcast → per-doc fold)
    timed("decontaminate_ngram",
          lambda: entry_queries.q_decontaminate_ngram(spark, sf_dir).count())
    timed("shared_ngram_stats",
          lambda: entry_queries.q_shared_ngram_stats(spark, sf_dir).count())
    timed("quality_unigram",
          lambda: entry_queries.q_quality_unigram(spark, sf_dir).count())
    # r5b: cross-document line dedup over the FULL corpus (winner
    # election shuffles only 16-byte line hash + packed winner key), and
    # the IVFADC funnel (coarse probe → ADC over 8-byte codes → exact
    # refine of top-15) over the sf embeddings
    timed("line_dedup_full",
          lambda: dedup.line_dedup(
              entry_queries.lined_docs(all_docs)).count())
    timed("ann_ivfpq",
          lambda: entry_queries.q_ann_ivfpq_top5(spark, sf_dir).count())
    # r5b retrieval funnels: hybrid lexical+vector RRF and two-pass PRF
    timed("hybrid_rrf",
          lambda: entry_queries.q_hybrid_rrf_top10(spark, sf_dir).count())
    timed("bm25_prf",
          lambda: entry_queries.q_bm25_prf_top10(spark, sf_dir).count())

    # r5c: link-graph PageRank at corpus scale (every doc a page, two
    # deterministic out-links → 2·N edges, 3 power iterations: one
    # url-keyed shuffle + localCheckpoint per round), corpus-wide bigram
    # PMI collocations (in-row bigram fold, two combinable count aggs),
    # and fielded BM25F over the full corpus (title = first 5 tokens
    # at weight 2, weighted-tf fold + shared length normalization)
    from colbert_spark.operators import fielded, linkgraph
    from colbert_spark.functions import analysis as _ana

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

    timed("link_pagerank_full", _bench_pagerank)
    timed("collocations_pmi",
          lambda: entry_queries.q_collocations_pmi(spark, sf_dir).count())

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

    timed("bm25f_full", _bench_bm25f)

    # r5d: redirect-chain resolution at crawl scale — a 1M-edge synthetic
    # map (50-url chains, every 10th block a cycle), max_hops=64 → SIX
    # pointer-doubling self-joins resolve chains of up to 49 hops; the
    # probe measures the log-rounds claim on real shuffle volume
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

    timed("resolve_redirects_1m", _bench_redirects)

    # new in r2: rerank-over-candidates through the allow-list scatter path
    allow = searcher.search_all(queries, k=20).df.select("qid", "pid")
    allow_rows = allow.collect()
    allow_df = spark.createDataFrame(allow_rows, "qid long, pid long")
    timed("rerank_allowlist",
          lambda: searcher.search_all(queries, k=10,
                                      qid_to_pids=allow_df).df.collect())

    # real-throughput probe: the sf corpus is small enough that fixed job
    # latency dominates index_build; a 100k-doc synthetic build shows the
    # work-bound rate (the number comparable to BASELINE.md's 28 docs/sec)
    from colbert_spark.sources.datagen import generate_documents

    big_path = "/tmp/colbert_bench_corpus_100k"
    if not os.path.exists(big_path + "/_SUCCESS"):
        generate_documents(spark, 100_000, partitions=64).write.mode(
            "overwrite"
        ).parquet(big_path)
    big = spark.read.parquet(big_path).select(
        F.pmod(F.xxhash64("url"), F.lit(1 << 62)).alias("pid"), "text"
    )
    cfg_big = ColBERTConfig(index_root="/tmp/colbert_spark_indexes",
                            index_name="bench100k")
    timed("index_build_100k",
          lambda: Indexer(cfg_big).index("bench100k", big,
                                         overwrite="force_silent_overwrite"))

    # new in r3: skew-safe compaction over the 100k index (flat decode →
    # tombstone anti-join → salted re-blockify) — the maintenance path's
    # cost relative to a fresh build
    from colbert_spark.operators import builder as _builder
    from colbert_spark.plans.index_updater import IndexUpdater
    from colbert_spark.sources.catalog import make_catalog

    IndexUpdater("bench100k", spark, cfg_big).remove([1, 2, 3])
    _cat_big = make_catalog(cfg_big)
    _avgdl = _cat_big.read_json("metadata.json")["avg_doclen"]
    timed("index_coalesce_100k",
          lambda: _builder.coalesce_index(_cat_big, cfg_big, _avgdl),
          reps=1)  # one-shot state: the tombstones are applied by rep 1

    # r5: the remove→re-add maintenance cycle over the same 100k index.
    # With the LSM epoch model this is a PURE APPEND (remove = tombstone
    # rows with an epoch bound; re-add = a fresh-epoch segment; zero
    # existing blocks or files touched) — the number a crawl workload
    # (re-captured URLs) actually pays per batch, vs the full coalesce
    # probe above.
    # materialize the victim rows once — limit() re-evaluation could pick
    # a different 50 between remove() and add() and trip the clash check
    _victim_rows = big.limit(50).collect()
    _victim_ids = [r["pid"] for r in _victim_rows]
    _victims = spark.createDataFrame(_victim_rows, big.schema)

    def _readd_epoch():
        IndexUpdater("bench100k", spark, cfg_big).remove(_victim_ids)
        IndexUpdater("bench100k", spark, cfg_big).add(_victims)

    timed("index_readd_epoch_100k", _readd_epoch, reps=1)

    # EAGER physical purge of the same 50 docs: remove + the full
    # coalesce fold (the probe key keeps its historical name)
    def _purge_surgery():
        IndexUpdater("bench100k", spark, cfg_big).purge(_victim_ids)

    timed("index_purge_surgery_100k", _purge_surgery, reps=1)

    # r5: segment merge — two 50k shard indexes folded into one with
    # globally exact recomputed stats (plans/merger.merge_indexes). The
    # distributed-build fold step's cost relative to a fresh 100k build
    # (expected: comparable to coalesce — one flat decode per shard +
    # one salted re-blockify, no tokenize).
    import dataclasses as _dc

    from colbert_spark.plans.merger import merge_indexes

    for _half, _nm in ((0, "bench50k_a"), (1, "bench50k_b")):
        _cfg_sh = _dc.replace(cfg_big, index_name=_nm)
        Indexer(_cfg_sh).index(_nm, big.filter(F.col("pid") % 2 == _half),
                               overwrite="force_silent_overwrite")
    timed("index_merge_100k",
          lambda: merge_indexes(spark, ["bench50k_a", "bench50k_b"],
                                "bench100k_merged", cfg_big,
                                overwrite=True),
          reps=1)

    # headline_total covers the round-1 key set only, so the driver's
    # round-over-round comparison stays apples-to-apples; probes added in
    # later rounds report in `queries` but not the total
    _R1_KEYS = {"index_build", "search_all", "search_scatter", "bm25_brute",
                "dedup_minhash", "ann_cosine", "tpch_q1", "index_build_100k"}
    total = round(sum(v for k, v in timings.items() if k in _R1_KEYS), 3)
    print(json.dumps({
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "num_docs": n_docs,
        "index_docs_per_sec": round(n_docs / timings["index_build"], 1),
        "index_docs_per_sec_100k": round(100_000 / timings["index_build_100k"], 1),
        "method": "best-of-2 wall per probe (coalesce: 1); min = least-contended estimate on a noisy box",
    }))
    spark.stop()


if __name__ == "__main__":
    main()
