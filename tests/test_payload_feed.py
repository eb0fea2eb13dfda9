"""The r6 hybrid payload feed (builder._hybrid_rows +
builder.block_term_stats) must be BYTE-IDENTICAL to the flat-decode
path it replaces: same posting blocks (payload bytes included), same
merged statistics — across removals, epoch re-adds, appends and
multi-salt (hot) terms. The flat path is forced by monkeypatching
catalog.TOMBSTONE_COLLECT_MAX to 0, so collect_tombstones reports "too
large" (None). The same digest pins the layout against the session's
shuffle task count."""

from __future__ import annotations

import numpy as np
import pytest
import pyspark.sql.functions as F

from colbert_spark.operators import builder
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.index_updater import IndexUpdater
from colbert_spark.plans.indexer import Indexer
from colbert_spark.plans.merger import merge_indexes
from colbert_spark.sources import catalog as catalog_mod
from colbert_spark.sources.catalog import make_catalog
from colbert_spark.sources.datagen import gen_docs_pdf


def _mk_cfg(tmp_path, name):
    # max_group_postings=50 forces multi-salt (flat-path) groups for the
    # head terms of a 200-doc fixture; block_size=16 → many blocks
    return ColBERTConfig(
        index_root=str(tmp_path), index_name=name, block_size=16,
        index_partitions=8, max_group_postings=50,
    )


def _docs(spark, n=200):
    pdf = gen_docs_pdf(np.arange(n))
    pdf["pid"] = np.arange(n)
    return spark.createDataFrame(pdf[["pid", "text"]])


def _postings_rows(spark, cfg, name):
    c = ColBERTConfig.from_existing(cfg)
    c.index_name = name
    rows = make_catalog(c).read(spark, "postings").select(
        "term_id", "block_id", "first_pid", "last_pid", "num_postings",
        "max_block_score", "pids", "tfs", "dls", "enc_bytes",
    ).collect()
    return sorted(
        (r["term_id"], r["block_id"], r["first_pid"], r["last_pid"],
         r["num_postings"], r["max_block_score"], bytes(r["pids"]),
         bytes(r["tfs"]), bytes(r["dls"]), r["enc_bytes"])
        for r in rows
    )


def _lifecycle(spark, cfg, name, docs):
    """build → remove → re-add (epoch append) → coalesce."""
    Indexer(cfg).index(name, docs, overwrite=True)
    IndexUpdater(name, spark, cfg).remove([3, 5, 7, 11])
    IndexUpdater(name, spark, cfg).add(
        docs.filter(F.col("pid").isin([5, 11])))
    c = ColBERTConfig.from_existing(cfg)
    c.index_name = name
    cat = make_catalog(c)
    avgdl = cat.read_json("metadata.json")["avg_doclen"]
    builder.coalesce_index(cat, c, avgdl)


def test_hybrid_coalesce_byte_identical_to_flat(spark, tmp_path,
                                                monkeypatch):
    docs = _docs(spark)
    cfg_h = _mk_cfg(tmp_path, "hyb")
    _lifecycle(spark, cfg_h, "hyb", docs)
    hyb = _postings_rows(spark, cfg_h, "hyb")

    monkeypatch.setattr(catalog_mod, "TOMBSTONE_COLLECT_MAX", 0)
    cfg_f = _mk_cfg(tmp_path, "flat")
    _lifecycle(spark, cfg_f, "flat", docs)
    flat = _postings_rows(spark, cfg_f, "flat")

    assert len(hyb) > 0
    assert hyb == flat


def test_hybrid_merge_byte_identical_to_flat(spark, tmp_path, monkeypatch):
    docs = _docs(spark)
    cfg = _mk_cfg(tmp_path, "s_a")
    Indexer(cfg).index("s_a", docs.filter(F.col("pid") % 2 == 0),
                       overwrite=True)
    Indexer(cfg).index("s_b", docs.filter(F.col("pid") % 2 == 1),
                       overwrite=True)
    IndexUpdater("s_a", spark, cfg).remove([0, 2, 4])

    merge_indexes(spark, ["s_a", "s_b"], "m_hyb", cfg)
    hyb = _postings_rows(spark, cfg, "m_hyb")
    c_hyb = ColBERTConfig.from_existing(cfg)
    c_hyb.index_name = "m_hyb"
    hyb_dict = sorted(
        map(tuple,
            make_catalog(c_hyb).read(spark, "term_dict").collect()))

    monkeypatch.setattr(catalog_mod, "TOMBSTONE_COLLECT_MAX", 0)
    merge_indexes(spark, ["s_a", "s_b"], "m_flat", cfg)
    flat = _postings_rows(spark, cfg, "m_flat")
    c_flat = ColBERTConfig.from_existing(cfg)
    c_flat.index_name = "m_flat"
    flat_dict = sorted(
        map(tuple,
            make_catalog(c_flat).read(spark, "term_dict").collect()))

    assert len(hyb) > 0
    assert hyb == flat
    assert hyb_dict == flat_dict


def test_hybrid_fixture_exercises_multi_salt(spark, tmp_path):
    """Guard: the 200-doc fixture at max_group_postings=50 really has
    multi-salt terms, so the identity tests cover the flat branch of the
    hybrid feed (not just the payload branch)."""
    docs = _docs(spark)
    cfg = _mk_cfg(tmp_path, "guard")
    Indexer(cfg).index("guard", docs, overwrite=True)
    cat = make_catalog(cfg)
    n_multi = (
        cat.read(spark, "postings")
        .filter(F.shiftright("block_id", 32) > 0)
        .count()
    )
    assert n_multi > 0


def test_postings_invariant_to_shuffle_task_count(spark, tmp_path):
    """No engine exchange takes its count from the config, so the
    session's spark.sql.shuffle.partitions decides how many tasks run —
    and must decide nothing else. Build, add (new pids plus a re-add) and coalesce
    the fixture at 1 and at 8 shuffle partitions; AQE coalescing is off
    so 8 really means 8 tasks per exchange. Every state's postings,
    payload bytes included, must match."""
    docs = _docs(spark)
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    states = {}
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
                       "false")
        for n in (1, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            name = f"tasks{n}"
            cfg = _mk_cfg(tmp_path, name)
            Indexer(cfg).index(name, docs.filter(F.col("pid") < 150),
                               overwrite=True)
            build = _postings_rows(spark, cfg, name)
            up = IndexUpdater(name, spark, cfg)
            up.remove([3, 7])
            up.add(docs.filter((F.col("pid") >= 150) | (F.col("pid") == 3)))
            add = _postings_rows(spark, cfg, name)
            builder.coalesce_index(up.catalog, up.config, up.avgdl)
            states[n] = (build, add, _postings_rows(spark, cfg, name))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert all(len(rows) > 0 for rows in states[1])
    assert states[1][0] == states[8][0], "build differs"
    assert states[1][1] == states[8][1], "add differs"
    assert states[1][2] == states[8][2], "coalesce differs"
