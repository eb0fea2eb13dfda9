"""Skew handling evidence (north_rule): the head term (present in ≥60% of
docs, FIXTURES.md) must be built as multiple bounded salted runs, and no
single build group may exceed max_group_postings."""

from __future__ import annotations

import numpy as np
import pytest
import pyspark.sql.functions as F

from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.indexer import Indexer
from colbert_spark.plans.searcher import Searcher
from colbert_spark.sources.catalog import IndexCatalog
from colbert_spark.sources.datagen import HEAD_TERM, gen_docs_pdf, gen_queries_pdf
from tests.equivalence import assert_point_equals_batch


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    cfg = ColBERTConfig(
        index_root=str(tmp_path_factory.mktemp("idx")),
        index_partitions=8, max_group_postings=64, block_size=32,
    )
    docs_pdf = gen_docs_pdf(np.arange(400))
    docs_pdf["pid"] = np.arange(400)
    docs = spark.createDataFrame(docs_pdf[["pid", "text"]])
    path = Indexer(cfg).index("skew", docs, overwrite=True)
    cat = IndexCatalog(path)
    return cfg, cat, docs_pdf


def test_head_term_is_salted_proportionally(spark, built):
    cfg, cat, docs_pdf = built
    term_dict = {r["term"]: r for r in cat.read(spark, "term_dict").collect()}
    head = term_dict[HEAD_TERM]
    assert head["df"] >= 0.5 * 400  # the fixture's forced skew is real
    blocks = (
        cat.read(spark, "postings")
        .filter(F.col("term_id") == head["term_id"])
        .select("block_id", "num_postings")
        .collect()
    )
    salts = {b["block_id"] >> 32 for b in blocks}
    expected_salts = -(-head["df"] // cfg.max_group_postings)  # ceil
    assert len(salts) == expected_salts and expected_salts >= 2


def test_no_build_group_exceeds_bound(spark, built):
    cfg, cat, _ = built
    # per (term_id, salt) postings — reconstruct group sizes from block ids
    per_group = (
        cat.read(spark, "postings")
        .groupBy("term_id", F.expr("shiftright(block_id, 32)").alias("salt"))
        .agg(F.sum("num_postings").alias("n"))
    )
    too_big = per_group.filter(
        # hash salting is uniform, not exact — allow 2x headroom
        F.col("n") > 2 * cfg.max_group_postings
    ).count()
    assert too_big == 0


def test_skewed_query_is_exact(spark, built):
    """Queries containing the head term remain rank-exact (salting must not
    change scoring)."""
    cfg, _, docs_pdf = built
    from tests.oracle import bm25_topk as oracle_topk

    queries_pdf = gen_queries_pdf(np.arange(40))
    head_queries = queries_pdf[queries_pdf["text"].str.contains(HEAD_TERM)]
    if head_queries.empty:
        head_queries = queries_pdf.head(3).copy()
        head_queries["text"] = HEAD_TERM + " " + head_queries["text"]
    queries = spark.createDataFrame(head_queries)
    got = Searcher("skew", spark, cfg).search_all(queries, k=10).todict()
    exp = oracle_topk(
        dict(zip(docs_pdf["pid"], docs_pdf["text"])),
        dict(zip(head_queries["qid"], head_queries["text"])),
        k=10,
    )
    for qid, e in exp.items():
        assert [(p, r) for p, r, _ in got.get(qid, [])] == \
               [(p, r) for p, r, _ in e], f"qid={qid}"


def test_many_queries_sharing_head_term_batch_equals_point(spark, built):
    """The shuffle-amplification scenario: many queries all containing the
    head term (≥60% df). search_all (scatter, decode-once) and per-query
    search() (driver MaxScore kernel) must produce identical rows."""
    cfg, _, _ = built
    searcher = Searcher("skew", spark, cfg)
    texts = [f"{HEAD_TERM} t{q % 19:05d}" for q in range(100)]
    point = assert_point_equals_batch(spark, searcher, texts, k=10)
    assert all(len(pids) == 10 for pids, _, _ in point.values())


def test_compaction_of_skewed_index_stays_bounded(spark, tmp_path):
    """coalesce_index must respect the same per-group bound as the build:
    compacting an index whose head term hits >50% of docs may not put the
    whole term in one merge group (VERDICT r2 #1). Asserts (a) bounded
    per-(term_id, salt) postings after compaction, (b) rankings before ≡
    after (tombstone-filtered view), (c) tombstoned pids physically gone."""
    from colbert_spark.operators import builder
    from colbert_spark.plans.index_updater import IndexUpdater

    cfg = ColBERTConfig(
        index_root=str(tmp_path), index_partitions=8,
        max_group_postings=64, block_size=32,
    )
    docs_pdf = gen_docs_pdf(np.arange(400))
    docs_pdf["pid"] = np.arange(400)
    docs = spark.createDataFrame(docs_pdf[["pid", "text"]])
    Indexer(cfg).index("skewc", docs, overwrite=True)
    cat = IndexCatalog(str(__import__("pathlib").Path(cfg.index_root) / "skewc"))

    queries = spark.createDataFrame(gen_queries_pdf(np.arange(30)))

    def rank():
        return sorted(map(tuple, Searcher("skewc", spark, cfg)
                          .search_all(queries, k=10).df.collect()))

    up = IndexUpdater("skewc", spark, cfg)
    up.remove([0, 7, 42])
    before = rank()

    builder.coalesce_index(cat, cfg, up.avgdl)

    assert rank() == before
    # every compacted (term_id, salt) group respects the build bound
    per_group = (
        cat.read(spark, "postings")
        .groupBy("term_id", F.expr("shiftright(block_id, 32)").alias("salt"))
        .agg(F.sum("num_postings").alias("n"))
    )
    assert per_group.filter(F.col("n") > 2 * cfg.max_group_postings).count() == 0
    # the head term still spans multiple salt runs post-compaction
    term_dict = {r["term"]: r for r in cat.read(spark, "term_dict").collect()}
    head_salts = (
        per_group.filter(F.col("term_id") == term_dict[HEAD_TERM]["term_id"])
        .count()
    )
    assert head_salts >= 2
    # tombstoned pids are physically absent from the decoded postings
    from colbert_spark.functions.codec import decode_pids_auto as decode_pids

    for row in (cat.read(spark, "postings")
                .filter(F.col("first_pid") <= 42)
                .select("pids").collect()):
        decoded = set(decode_pids(bytes(row["pids"])).tolist())
        assert not (decoded & {0, 7, 42})
