"""merge_indexes: sharded builds fold into one index whose searches are
bit-identical to a single full-corpus build (globally exact recomputed
stats), tombstones in sources fold away, and the guards fail loud."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pytest
import pyspark.sql.functions as F

from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.index_updater import IndexUpdater
from colbert_spark.plans.indexer import Indexer
from colbert_spark.plans.merger import merge_indexes
from colbert_spark.plans.searcher import Searcher
from colbert_spark.sources.catalog import make_catalog
from colbert_spark.sources.datagen import gen_docs_pdf, gen_queries_pdf


@pytest.fixture()
def env(spark, tmp_path):
    cfg = ColBERTConfig(
        index_root=str(tmp_path), block_size=32, index_partitions=8,
        max_group_postings=50,
    )
    docs_pdf = gen_docs_pdf(np.arange(200))
    docs_pdf["pid"] = np.arange(200)
    docs = spark.createDataFrame(docs_pdf[["pid", "text"]])
    queries = spark.createDataFrame(gen_queries_pdf(np.arange(12)))
    return cfg, docs, queries


def _rank(spark, cfg, name, queries):
    return sorted(
        map(tuple,
            Searcher(name, spark, cfg).search_all(queries, k=10).df.collect())
    )


def _catalog(cfg, name):
    c = ColBERTConfig.from_existing(cfg)
    c.index_name = name
    return make_catalog(c)


def _postings_rows(spark, catalog):
    """Every postings row, payload bytes included, sorted."""
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
              for v in r)
        for r in catalog.read(spark, "postings").select(
            "term_id", "block_id", "first_pid", "last_pid", "num_postings",
            "max_block_score", "pids", "tfs", "dls", "enc_bytes").collect()
    )


def _manifest(spark, cfg, name):
    """Manifest rows, every column but wall_ms, sorted by bucket."""
    return sorted(
        tuple(r) for r in
        _catalog(cfg, name).read(spark, "manifest").drop("wall_ms").collect()
    )


def test_merge_equals_full_corpus_build(spark, env):
    """Shard stats provably differ from global stats (half the docs),
    yet the merged index ranks exactly like a one-shot full build and
    commits the same manifest, whose block, posting and byte counts are
    those of each written bucket (counted here with pyarrow)."""
    cfg, docs, queries = env
    Indexer(cfg).index("even", docs.filter(F.col("pid") % 2 == 0),
                       overwrite=True)
    Indexer(cfg).index("odd", docs.filter(F.col("pid") % 2 == 1),
                       overwrite=True)
    Indexer(cfg).index("full", docs, overwrite=True)
    merge_indexes(spark, ["even", "odd"], "merged", cfg)
    assert _rank(spark, cfg, "merged", queries) == \
        _rank(spark, cfg, "full", queries)
    # merged metadata carries the recomputed global stats
    meta = _catalog(cfg, "merged").read_json("metadata.json")
    assert meta["num_docs"] == 200
    assert meta["merged_from"] == ["even", "odd"]
    full = _manifest(spark, cfg, "full")
    assert _manifest(spark, cfg, "merged") == full
    assert [r[0] for r in full] == list(range(8))
    for name in ("full", "merged"):
        postings = Path(_catalog(cfg, name).path("postings"))
        for bucket, fp, blocks, n_post, n_bytes, status in \
                _manifest(spark, cfg, name):
            t = ds.dataset(postings / f"bucket={bucket}",
                           format="parquet").to_table(
                columns=["num_postings", "enc_bytes"])
            assert t.num_rows > 0 and fp != "empty" and status == "ok"
            assert (blocks, n_post, n_bytes) == (
                t.num_rows,
                pc.sum(t["num_postings"]).as_py(),
                pc.sum(t["enc_bytes"]).as_py(),
            ), (name, bucket)


def test_merge_folds_source_tombstones(spark, env):
    """Actively-tombstoned pids in a source vanish from the merged index
    AND from its statistics — equal to a fresh build without them."""
    cfg, docs, queries = env
    Indexer(cfg).index("even", docs.filter(F.col("pid") % 2 == 0),
                       overwrite=True)
    Indexer(cfg).index("odd", docs.filter(F.col("pid") % 2 == 1),
                       overwrite=True)
    IndexUpdater("even", spark, cfg).remove([0, 2, 4, 6, 8])
    Indexer(cfg).index(
        "full_minus", docs.filter(~F.col("pid").isin([0, 2, 4, 6, 8])),
        overwrite=True)
    merge_indexes(spark, ["even", "odd"], "merged2", cfg)
    assert _rank(spark, cfg, "merged2", queries) == \
        _rank(spark, cfg, "full_minus", queries)
    # the merge recomputes every statistic from the live union, so its
    # blocks (payload bytes included) and dictionary are the fresh
    # build's, row for row
    merged, fresh = _catalog(cfg, "merged2"), _catalog(cfg, "full_minus")
    assert _postings_rows(spark, merged) == _postings_rows(spark, fresh)
    assert sorted(map(tuple, merged.read(spark, "term_dict").collect())) \
        == sorted(map(tuple, fresh.read(spark, "term_dict").collect()))


def test_single_source_merge_refreshes_frozen_stats(spark, env):
    """The optimize/forceMerge(1) contract: appends score with FROZEN
    base stats (provably different from a fresh union build), and a
    1-ary merge erases that drift — merged == fresh full build."""
    cfg, docs, queries = env
    base = docs.filter(F.col("pid") < 120)
    extra = docs.filter(F.col("pid") >= 120)
    Indexer(cfg).index("grow", base, overwrite=True)
    IndexUpdater("grow", spark, cfg).add(extra)
    Indexer(cfg).index("fresh", docs, overwrite=True)
    appended = _rank(spark, cfg, "grow", queries)
    fresh = _rank(spark, cfg, "fresh", queries)
    assert appended != fresh  # frozen-stats drift is real on this fixture
    merge_indexes(spark, ["grow"], "grow_opt", cfg)
    assert _rank(spark, cfg, "grow_opt", queries) == fresh


def test_merge_guards_fail_loud(spark, env):
    cfg, docs, queries = env
    Indexer(cfg).index("a", docs.filter(F.col("pid") < 100), overwrite=True)
    Indexer(cfg).index("b", docs.filter(F.col("pid") >= 100), overwrite=True)

    with pytest.raises(ValueError, match="at least one"):
        merge_indexes(spark, [], "m")
    with pytest.raises(FileNotFoundError):
        merge_indexes(spark, ["a", "nosuch"], "m", cfg)

    # overlapping pid spaces
    Indexer(cfg).index("a2", docs.filter(F.col("pid") < 120), overwrite=True)
    with pytest.raises(ValueError, match="disjoint"):
        merge_indexes(spark, ["a2", "b"], "m", cfg)

    # analyzer mismatch
    cfg2 = ColBERTConfig.from_existing(cfg)
    cfg2.doc_maxlen = 64
    with pytest.raises(ValueError, match="doc_maxlen"):
        merge_indexes(spark, ["a", "b"], "m", cfg2)

    # dest exists without overwrite
    merge_indexes(spark, ["a", "b"], "m", cfg)
    with pytest.raises(FileExistsError):
        merge_indexes(spark, ["a", "b"], "m", cfg)
    # with overwrite it replaces and still searches
    merge_indexes(spark, ["a", "b"], "m", cfg, overwrite=True)
    assert len(_rank(spark, cfg, "m", queries)) > 0
