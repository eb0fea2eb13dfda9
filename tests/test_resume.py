"""Resume semantics (I6/F6): after a partial failure, overwrite='resume'
rebuilds ONLY the buckets missing from the manifest, and the resumed index
is identical to a clean build (mirrors chunk-exists skip,
colbert/indexing/collection_indexer.py:360-363 + index_saver.py:30-50)."""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pytest
import pyspark.sql.functions as F

from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.indexer import Indexer
from colbert_spark.plans.searcher import Searcher
from colbert_spark.sources.catalog import IndexCatalog
from colbert_spark.sources.datagen import gen_docs_pdf, gen_queries_pdf


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    cfg = ColBERTConfig(
        index_root=str(tmp_path_factory.mktemp("indexes")),
        block_size=32,
        index_partitions=8,
        max_group_postings=50,
    )
    docs_pdf = gen_docs_pdf(np.arange(200))
    docs_pdf["pid"] = np.arange(200)
    docs = spark.createDataFrame(docs_pdf[["pid", "text"]])
    queries = spark.createDataFrame(gen_queries_pdf(np.arange(15)))
    return cfg, docs, queries


def _ranking(spark, cfg, queries):
    return sorted(
        map(tuple, Searcher("r1", spark, cfg).search_all(queries, k=10).df.collect())
    )


def test_resume_rebuilds_only_missing_buckets(spark, env):
    cfg, docs, queries = env
    Indexer(cfg).index("r1", docs, overwrite=True)
    cat = IndexCatalog(str(Path(cfg.index_root) / "r1"))
    clean = _ranking(spark, cfg, queries)
    full_manifest = {
        r["bucket"]: r for r in cat.read(spark, "manifest").collect()
    }
    assert set(full_manifest) == set(range(8))
    assert all(r["status"] == "ok" for r in full_manifest.values())
    assert all(r["num_postings"] > 0 for r in full_manifest.values())

    # simulate a crash that lost buckets 2 and 5: remove their data and
    # their manifest rows (the manifest IS the checkpoint)
    lost = {2, 5}
    for b in lost:
        shutil.rmtree(Path(cat.path("postings")) / f"bucket={b}")
    kept = cat.read(spark, "manifest").filter(~F.col("bucket").isin(list(lost)))
    kept_pdf = kept.toPandas()
    shutil.rmtree(cat.path("manifest"))
    spark.createDataFrame(kept_pdf).write.parquet(cat.path("manifest"))

    Indexer(cfg).index("r1", docs, overwrite="resume")

    meta = cat.read_json("metadata.json")
    assert sorted(meta["buckets_built_this_run"]) == sorted(lost)

    # resumed index answers identically to the clean build
    assert _ranking(spark, cfg, queries) == clean

    # lineage: fingerprints of untouched buckets unchanged
    new_manifest = {r["bucket"]: r for r in cat.read(spark, "manifest").collect()}
    assert set(new_manifest) == set(range(8))
    for b in set(range(8)) - lost:
        assert (
            new_manifest[b]["input_fingerprint"]
            == full_manifest[b]["input_fingerprint"]
        )


def test_resume_with_complete_manifest_is_noop(spark, env):
    """overwrite='resume' against a fully-built index (todo == []) must be
    an idempotent no-op: no crash, no bucket rebuilt, same answers."""
    cfg, docs, queries = env
    Indexer(cfg).index("r2", docs, overwrite=True)
    cat = IndexCatalog(str(Path(cfg.index_root) / "r2"))
    clean = _ranking_named(spark, cfg, queries, "r2")
    before = {
        r["bucket"]: r["input_fingerprint"]
        for r in cat.read(spark, "manifest").collect()
    }

    Indexer(cfg).index("r2", docs, overwrite="resume")

    meta = cat.read_json("metadata.json")
    assert meta["buckets_built_this_run"] == []
    after = {
        r["bucket"]: r["input_fingerprint"]
        for r in cat.read(spark, "manifest").collect()
    }
    assert after == before
    assert _ranking_named(spark, cfg, queries, "r2") == clean


def _ranking_named(spark, cfg, queries, name):
    return sorted(
        map(tuple,
            Searcher(name, spark, cfg).search_all(queries, k=10).df.collect())
    )
