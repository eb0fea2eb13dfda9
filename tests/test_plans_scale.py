"""Physical-plan assertions — the 100 TB safety rails.

Checks that the plans Catalyst produces are the ones the engine's scale
story depends on: parquet filter pushdown + column pruning on the postings
scan, broadcast joins for the tiny query side, and no corpus-wide
shuffles introduced by accident.
"""

from __future__ import annotations

import numpy as np
import pytest
import pyspark.sql.functions as F

from colbert_spark.operators import brute
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.indexer import Indexer
from colbert_spark.plans.searcher import Searcher
from colbert_spark.sources.datagen import gen_docs_pdf, gen_queries_pdf


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    cfg = ColBERTConfig(
        index_root=str(tmp_path_factory.mktemp("idx")),
        index_partitions=8,
    )
    docs_pdf = gen_docs_pdf(np.arange(150))
    docs_pdf["pid"] = np.arange(150)
    docs = spark.createDataFrame(docs_pdf[["pid", "text"]])
    Indexer(cfg).index("p1", docs, overwrite=True)
    return cfg, docs


def test_postings_scan_prunes_partitions_and_pushes_filters(spark, built):
    cfg, _ = built
    searcher = Searcher("p1", spark, cfg)
    queries = spark.createDataFrame([(0, "t00000 t00042")], "qid long, text string")
    qterms = searcher._query_terms(queries)
    tids = [r["term_id"]
            for r in qterms.select("term_id").distinct().collect()]
    blocks = searcher._candidate_blocks(tids)
    plan = blocks._jdf.queryExecution().executedPlan().toString()
    # partition pruning on bucket= (Hive-partitioned read)
    assert "PartitionFilters" in plan
    assert "bucket" in plan
    # term_id pushed to parquet row-group stats
    assert "PushedFilters" in plan
    assert "term_id" in plan.split("PushedFilters")[1][:200]


def test_query_side_join_is_broadcast(spark, built):
    cfg, docs = built
    queries = spark.createDataFrame(gen_queries_pdf(np.arange(5)))
    ranking = brute.bm25_topk(docs, queries, k=10)
    plan = ranking._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the corpus must never sort-merge


def test_column_pruning_on_documents_scan(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    two = docs.select("doc_id", "lang").filter(F.col("lang") == "en")
    plan = two._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema  # unused heavy column not read
    assert "doc_id" in read_schema and "lang" in read_schema


def test_scatter_partials_combine_before_shuffle(spark, built):
    """The scatter layout's one corpus-sized shuffle must be the combined
    (qid,pid) partial sums — i.e. a partial_sum HashAggregate below the
    exchange."""
    cfg, _ = built
    searcher = Searcher("p1", spark, cfg)
    queries = spark.createDataFrame([(0, "t00000 t00042")], "qid long, text string")
    ranking = searcher.search_all(queries, k=10).df
    plan = ranking._jdf.queryExecution().executedPlan().toString()
    before_exchange = plan.split("Exchange hashpartitioning(qid")[1:]
    assert before_exchange, "expected a (qid, pid) aggregation exchange"
    assert "partial_sum" in plan
