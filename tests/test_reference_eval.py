"""Reference-style end-to-end acceptance (north_rule): the real engine's
top-10 docIDs AND scores are rank-identical to the BM25 oracle on a
dev-query set shaped like the reference's bundled 5k-eval set
(data/5k-eval.queries.tsv — MS MARCO dev subsample; FIXTURES.md §2), and
the self-consistency eval (qrels := oracle top-1, FIXTURES.md §3) yields
MRR@10 = 1.0 — mirroring the e2e quality gate (e2e_test.py:74-80)."""

from __future__ import annotations

import numpy as np
import pytest

from colbert_spark.operators import metrics
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.indexer import Indexer
from colbert_spark.plans.searcher import Searcher
from colbert_spark.sources.datagen import gen_docs_pdf, gen_queries_pdf
from tests.oracle import bm25_topk as oracle_topk

N_DOCS = 2000
N_QUERIES = 200


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    cfg = ColBERTConfig(
        index_root=str(tmp_path_factory.mktemp("idx")),
        index_partitions=16, max_group_postings=200,
    )
    docs_pdf = gen_docs_pdf(np.arange(N_DOCS))
    docs_pdf["pid"] = np.arange(N_DOCS)
    queries_pdf = gen_queries_pdf(np.arange(N_QUERIES))
    docs = spark.createDataFrame(docs_pdf[["pid", "text"]])
    queries = spark.createDataFrame(queries_pdf)
    Indexer(cfg).index("ref", docs, overwrite=True)
    oracle = oracle_topk(
        dict(zip(docs_pdf["pid"], docs_pdf["text"])),
        dict(zip(queries_pdf["qid"], queries_pdf["text"])),
        k=10,
    )
    return cfg, queries, oracle


def test_rank_identical_on_dev_set(spark, setup):
    cfg, queries, oracle = setup
    got = Searcher("ref", spark, cfg).search_all(queries, k=10).todict()
    n_queries_with_results = 0
    for qid, exp in oracle.items():
        g = got.get(qid, [])
        assert [(p, r) for p, r, _ in g] == [(p, r) for p, r, _ in exp], f"qid={qid}"
        for (gp, _, gs), (_, _, es) in zip(g, exp):
            assert gs == pytest.approx(es, abs=1e-6), f"qid={qid} pid={gp}"
        if exp:
            n_queries_with_results += 1
    # the dev set must actually exercise retrieval (non-degenerate fixture)
    assert n_queries_with_results >= 0.9 * N_QUERIES


def test_self_consistency_mrr_is_1(spark, setup):
    cfg, queries, oracle = setup
    qrels_rows = [(qid, ranked[0][0]) for qid, ranked in oracle.items() if ranked]
    qrels = spark.createDataFrame(qrels_rows, "qid long, pid long")
    ranking = Searcher("ref", spark, cfg).search_all(queries, k=10).df
    mrr = metrics.mrr_at_k(ranking, qrels, 10).first()["mrr"]
    assert mrr == pytest.approx(1.0, abs=1e-9)


def test_rank_identity_at_10k_docs(spark, tmp_path_factory):
    """Scale spot check: engine == pure-Python oracle at 10k docs / 30
    queries (5× the standard fixture) — catches anything that only shows
    up with more blocks, salts, and buckets in play."""
    cfg = ColBERTConfig(
        index_root=str(tmp_path_factory.mktemp("idx10k")),
        index_partitions=16, max_group_postings=500,
    )
    docs_pdf = gen_docs_pdf(np.arange(10_000))
    docs_pdf["pid"] = np.arange(10_000)
    docs = spark.createDataFrame(docs_pdf[["pid", "text"]])
    Indexer(cfg).index("tenk", docs, overwrite=True)
    searcher = Searcher("tenk", spark, cfg)
    queries_pdf = gen_queries_pdf(np.arange(30))
    queries = spark.createDataFrame(queries_pdf[["qid", "text"]])
    got = {}
    for r in searcher.search_all(queries, k=10).df.collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["pid"], r["score"]))
    exp = oracle_topk(
        dict(zip(docs_pdf["pid"], docs_pdf["text"])),
        dict(zip(queries_pdf["qid"], queries_pdf["text"])),
        k=10,
    )
    for qid, erows in exp.items():
        grows = sorted(got.get(qid, []))
        assert [(r, p, s) for r, p, s in grows] == \
               [(r, p, s) for p, r, s in erows], f"qid={qid}"
