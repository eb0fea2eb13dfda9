"""coalesce_index feeds its one block kernel the hybrid feed
(builder._hybrid_rows: single-salt terms' blocks still encoded, hot
terms' postings flat, tombstones folded in the kernel). Its blocks,
payload bytes included, must equal blockifying the index's live postings
flat — every block decoded, tombstones anti-joined epoch-bounded,
re-salted — composed here as the reference, across removals, epoch
re-adds and multi-salt (hot) terms. merge_indexes feeds the same
kernel; its blocks and dictionary must equal a fresh build of the
sources' live union, the flat reference for a merge. The same digest
pins the layout against the session's shuffle task count."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from colbert_spark.operators import builder
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.index_updater import IndexUpdater
from colbert_spark.plans.indexer import Indexer
from colbert_spark.plans.merger import merge_indexes
from colbert_spark.sources.catalog import make_catalog, tombstone_bounds
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


_COLS = ("term_id", "block_id", "first_pid", "last_pid", "num_postings",
         "max_block_score", "pids", "tfs", "dls", "enc_bytes")


def _sorted_rows(blocks):
    return sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
              for v in r)
        for r in blocks.select(*_COLS).collect()
    )


def _postings_rows(spark, cfg, name):
    c = ColBERTConfig.from_existing(cfg)
    c.index_name = name
    return _sorted_rows(make_catalog(c).read(spark, "postings"))


def _flat_coalesce_reference(spark, cat, cfg, avgdl):
    """The blocks coalesce_index must write, from the flat feed: decode
    every block, anti-join the tombstones epoch-bounded (a pid drops only
    from blocks whose epoch is below its before_epoch), re-salt by the
    current posting counts and blockify."""
    blocks = cat.read(spark, "postings")
    counts = blocks.groupBy("term_id").agg(
        F.sum("num_postings").alias("n_post"))
    idf_table = cat.read(spark, "term_dict").select("term_id", "idf")
    dict_slice = idf_table.join(counts, "term_id").select(
        "term_id", builder._n_salts(F.col("n_post"), cfg))
    tombs = tombstone_bounds(cat, spark).withColumnRenamed("pid", "t_pid")
    live = builder.decode_blocks_flat(blocks).join(
        tombs,
        (F.col("pid") == F.col("t_pid"))
        & (F.col("epoch") < F.col("before_epoch")),
        "left_anti",
    )
    return _sorted_rows(builder._blockify(
        builder._salted(live, dict_slice), avgdl, cfg, idf_table=idf_table))


def test_hybrid_coalesce_byte_identical_to_flat(spark, tmp_path):
    """build → remove → re-add (epoch append) → coalesce, against the
    flat reference composed before the coalesce."""
    docs = _docs(spark)
    cfg = _mk_cfg(tmp_path, "hyb")
    Indexer(cfg).index("hyb", docs, overwrite=True)
    IndexUpdater("hyb", spark, cfg).remove([3, 5, 7, 11])
    up = IndexUpdater("hyb", spark, cfg)
    up.add(docs.filter(F.col("pid").isin([5, 11])))
    flat = _flat_coalesce_reference(spark, up.catalog, up.config, up.avgdl)
    builder.coalesce_index(up.catalog, up.config, up.avgdl)
    hyb = _postings_rows(spark, cfg, "hyb")
    assert len(hyb) > 0
    assert hyb == flat


def _term_dict_rows(spark, cfg, name):
    c = ColBERTConfig.from_existing(cfg)
    c.index_name = name
    return sorted(
        map(tuple, make_catalog(c).read(spark, "term_dict").collect()))


def test_hybrid_merge_byte_identical_to_flat(spark, tmp_path):
    """Two halves, one with tombstones, merged through the hybrid feed,
    against a fresh build of the live union: the merge recomputes every
    statistic from that union, so blocks (payload bytes included) and
    term_dict must match row for row, multi-salt terms included."""
    docs = _docs(spark)
    cfg = _mk_cfg(tmp_path, "s_a")
    Indexer(cfg).index("s_a", docs.filter(F.col("pid") % 2 == 0),
                       overwrite=True)
    Indexer(cfg).index("s_b", docs.filter(F.col("pid") % 2 == 1),
                       overwrite=True)
    IndexUpdater("s_a", spark, cfg).remove([0, 2, 4])
    merge_indexes(spark, ["s_a", "s_b"], "m_hyb", cfg)
    Indexer(cfg).index("m_flat", docs.filter(~F.col("pid").isin([0, 2, 4])),
                       overwrite=True)

    hyb = _postings_rows(spark, cfg, "m_hyb")
    assert len(hyb) > 0
    assert hyb == _postings_rows(spark, cfg, "m_flat")
    assert _term_dict_rows(spark, cfg, "m_hyb") == \
        _term_dict_rows(spark, cfg, "m_flat")


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
