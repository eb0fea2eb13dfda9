"""One commit point: metadata.json lists every table's files, writes only
add files, and a Searcher reads the version it opened (catalog.py,
Searcher.refresh)."""

from __future__ import annotations

import json
import threading

import numpy as np
import pytest
import pyspark.sql.functions as F

from colbert_spark.operators import builder
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
    texts = list(gen_queries_pdf(np.arange(12))["text"])
    Indexer(cfg).index("u1", docs, overwrite=True)
    return cfg, docs, texts


def _views(searcher, texts):
    """(search_all rows, search tuples) of one Searcher over the queries."""
    batch = sorted(map(tuple, searcher.search_all(dict(enumerate(texts)),
                                                  k=10).df.collect()))
    return batch, [searcher.search(t, k=10) for t in texts]


def test_held_searcher_serves_its_pinned_version(spark, env):
    """A Searcher opened before remove + re-add of pids 0, 1 and 3 (same
    text) once scored both their old and new postings; one opened after
    the re-add and kept across coalesce_index dropped all three. Each
    must keep returning the ranking of the version it opened, from
    search and search_all alike, and after refresh() the ranking of a
    freshly opened Searcher."""
    cfg, docs, texts = env
    held = Searcher("u1", spark, cfg)
    pinned = _views(held, texts)

    IndexUpdater("u1", spark, cfg).remove([0, 1, 3])
    IndexUpdater("u1", spark, cfg).add(docs.filter(F.col("pid").isin([0, 1, 3])))
    assert _views(held, texts) == pinned

    readded = Searcher("u1", spark, cfg)
    readded_views = _views(readded, texts)
    up = IndexUpdater("u1", spark, cfg)
    builder.coalesce_index(up.catalog, up.config, up.avgdl)
    assert _views(held, texts) == pinned
    assert _views(readded, texts) == readded_views
    assert held.version < readded.version < make_catalog(up.config) \
        .current()["version"]

    fresh = _views(Searcher("u1", spark, cfg), texts)
    for s in (held, readded):
        s.refresh()
        assert _views(s, texts) == fresh
    # same text re-added under frozen stats: the live ranking is unchanged
    assert fresh == pinned


def test_search_while_updates_run(spark, env):
    """A reader thread searches (search and search_all) while add, remove
    and coalesce_index commit three versions: no call fails and every
    answer is the pinned version's."""
    cfg, docs, texts = env
    held = Searcher("u1", spark, cfg)
    pinned = _views(held, texts[:4])
    done = threading.Event()
    errors: list[BaseException] = []
    rounds = [0]

    def reader():
        try:
            while not done.is_set():
                assert _views(held, texts[:4]) == pinned
                rounds[0] += 1
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)

    t = threading.Thread(target=reader)
    t.start()
    try:
        new = spark.createDataFrame(
            [(1000, "zzthread t00003 t00004"), (1001, "zzthread t00005")],
            "pid long, text string")
        IndexUpdater("u1", spark, cfg).add(new)
        IndexUpdater("u1", spark, cfg).remove([5, 6, 1000])
        up = IndexUpdater("u1", spark, cfg)
        builder.coalesce_index(up.catalog, up.config, up.avgdl)
    finally:
        done.set()
        t.join()
    assert not errors, errors[0]
    assert rounds[0] > 0
    held.refresh()
    assert held.search("zzthread", k=5)[0] == [1001]
    assert _views(held, texts) == _views(Searcher("u1", spark, cfg), texts)


def test_index_without_file_lists_must_be_rebuilt(spark, env):
    """metadata.json written before it listed each table's files is
    rejected with a rebuild error by every reader and writer, and a
    rebuild serves again."""
    cfg, docs, texts = env
    u1 = ColBERTConfig.from_existing(cfg)
    u1.index_name = "u1"
    cat = make_catalog(u1)
    meta = cat.current()
    old = {k: v for k, v in meta.items() if k not in ("version", "tables")}
    cat.metadata_path.write_text(json.dumps(old))

    for call in (
        lambda: Searcher("u1", spark, cfg),
        lambda: IndexUpdater("u1", spark, cfg),
        lambda: builder.coalesce_index(make_catalog(u1), u1, 1.0),
        lambda: merge_indexes(spark, ["u1"], "m1", cfg),
    ):
        with pytest.raises(ValueError, match="rebuild"):
            call()

    Indexer(cfg).index("u1", docs, overwrite=True)
    assert Searcher("u1", spark, cfg).search(texts[0], k=3)[0]
    assert "tables" in cat.current()


def test_resume_republishes_intact_tables_of_the_current_version(spark,
                                                                 env):
    """overwrite='resume' over an intact index keeps each table's listed
    files: the files a commit keeps one more version for pinned readers
    (here the postings and tombstones that coalesce_index replaced) stay
    out of the resumed version."""
    cfg, docs, texts = env
    IndexUpdater("u1", spark, cfg).remove([5, 6])
    up = IndexUpdater("u1", spark, cfg)
    builder.coalesce_index(up.catalog, up.config, up.avgdl)
    before = _views(Searcher("u1", spark, cfg), texts)
    Indexer(cfg).index("u1", docs, overwrite="resume")
    assert not make_catalog(up.config).table_exists("tombstones")
    assert _views(Searcher("u1", spark, cfg), texts) == before
