"""End-to-end webtext pipeline: the full journey a Common-Crawl-shaped
corpus takes through this engine, composed entirely from public
operators —

    crawl table (url, warc_ts, html, …)
      → latest_capture        (newest snapshot per canonical URL)
      → with_extracted_text   (byte-deterministic html → text)
      → curate_corpus         (exact dedup → quality gate → lang gate)
      → assign_pids           (stable dense pids from url order)
      → Indexer.index         (salted varint postings)
      → Searcher.search_all   (block-max top-k)

Each stage is individually oracle/pytest-checked elsewhere; this test
checks the COMPOSITION: stages agree on schemas, the funnel only ever
narrows, pids are dense and stable, and search over the curated index
returns exactly the same rankings as an index built directly on the
curated text — i.e. the pipeline introduces no hidden transformation.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from colbert_spark.functions.analysis import with_extracted_text
from colbert_spark.operators.curation import curate_corpus
from colbert_spark.operators.webcrawl import latest_capture
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.indexer import Indexer
from colbert_spark.plans.searcher import Searcher
from colbert_spark.sources.collection import assign_pids
from colbert_spark.sources.datagen import generate_documents, generate_queries


def test_crawl_to_search_pipeline(spark, tmp_path):
    crawl = generate_documents(spark, 1200)
    # inject re-captures: 200 pages appear again under a messy raw
    # spelling one day later with different html (the newer must win)
    dups = (
        crawl.filter(F.col("url").isNotNull()).limit(200)
        .select(
            F.concat(F.col("url"), F.lit("?utm_campaign=x#frag")).alias("url"),
            (F.col("warc_ts") + F.expr("INTERVAL 1 DAY")).alias("warc_ts"),
            F.col("html"), F.col("text"), F.col("lang"),
        )
    )
    both = crawl.unionByName(dups)

    kept = latest_capture(both)
    n_kept = kept.count()
    assert n_kept == 1200  # one row per canonical page survived
    # every injected re-capture won its group (newer ts)
    assert kept.filter(F.col("url").contains("utm_campaign")).count() == 200

    extracted = with_extracted_text(
        kept.drop("text").drop("canonical_url"), out_col="text"
    )
    curated = curate_corpus(
        extracted.select(F.col("url").alias("doc_id"), "text"),
        id_col="doc_id", require_lang=None,
    )
    n_curated = curated.count()
    assert 0 < n_curated <= n_kept  # the funnel only narrows

    corpus = assign_pids(
        extracted.join(curated.select(F.col("doc_id").alias("url")), "url"),
        "url",
    ).select("pid", "text")
    pids = sorted(r["pid"] for r in corpus.select("pid").collect())
    assert pids == list(range(n_curated))  # dense, 0-based, no gaps

    cfg = ColBERTConfig(index_root=str(tmp_path), index_name="webtext",
                        index_partitions=8)
    Indexer(cfg).index("webtext", corpus, overwrite=True)
    queries = generate_queries(spark, 10)
    got = sorted(map(tuple, Searcher("webtext", spark, cfg)
                     .search_all(queries, k=10).df.collect()))
    assert len(got) > 0

    # composition sanity: an index built directly on the same curated
    # (pid, text) table gives identical rankings — the pipeline stages
    # added nothing behind the scenes
    cfg2 = ColBERTConfig(index_root=str(tmp_path), index_name="direct",
                         index_partitions=8)
    Indexer(cfg2).index("direct", corpus, overwrite=True)
    direct = sorted(map(tuple, Searcher("direct", spark, cfg2)
                        .search_all(queries, k=10).df.collect()))
    assert got == direct
