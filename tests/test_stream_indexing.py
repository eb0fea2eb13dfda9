"""Streaming index maintenance (streaming/indexing.py): micro-batch
appends through IndexUpdater under frozen stats, exactly-once via the
batch-id ledger."""

from __future__ import annotations

import pathlib

import numpy as np
import pyspark.sql.functions as F

from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.indexer import Indexer
from colbert_spark.plans.index_updater import IndexUpdater
from colbert_spark.plans.searcher import Searcher
from colbert_spark.sources.catalog import IndexCatalog
from colbert_spark.sources.datagen import gen_docs_pdf, gen_queries_pdf
from colbert_spark.streaming.indexing import _apply_batch, stream_index_append


def _env(spark, tmp_path, name):
    cfg = ColBERTConfig(
        index_root=str(tmp_path), index_name=name, block_size=32,
        index_partitions=8, max_group_postings=50,
    )
    docs_pdf = gen_docs_pdf(np.arange(150))
    docs_pdf["pid"] = np.arange(150)
    docs = spark.createDataFrame(docs_pdf[["pid", "text"]])
    queries = spark.createDataFrame(gen_queries_pdf(np.arange(10)))
    Indexer(cfg).index(name, docs, overwrite=True)
    return cfg, docs, queries


def _rank(spark, cfg, name, queries):
    return sorted(map(tuple, Searcher(name, spark, cfg)
                      .search_all(queries, k=10).df.collect()))


def test_stream_append_restores_removed_docs(spark, tmp_path):
    """Full build → remove 30 pids → stream the same 30 docs back in TWO
    micro-batches (file-per-trigger source) → rankings equal the original
    full-corpus build bit-for-bit (frozen stats = full stats, the
    search_after_update identity). A restart on the same checkpoint must
    be a no-op (source drained, ledger intact)."""
    cfg, docs, queries = _env(spark, tmp_path, "st1")
    before = _rank(spark, cfg, "st1", queries)

    up = IndexUpdater("st1", spark, cfg)
    victims = list(range(30))
    up.remove(victims)
    assert _rank(spark, cfg, "st1", queries) != before

    src = tmp_path / "stream_src"
    readd = docs.filter(F.col("pid") < 30)
    readd.filter(F.col("pid") < 15).coalesce(1).write.mode("overwrite") \
        .parquet(str(src))
    readd.filter(F.col("pid") >= 15).coalesce(1).write.mode("append") \
        .parquet(str(src))
    stream = (
        spark.readStream.schema(readd.schema)
        .option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    ckpt = str(tmp_path / "stream_ckpt")
    q = stream_index_append(stream, "st1", cfg, ckpt)
    assert q.awaitTermination(180)  # False = timeout, fail loudly
    assert _rank(spark, cfg, "st1", queries) == before

    cat = IndexCatalog(str(pathlib.Path(cfg.index_root) / "st1"))
    led = cat.read_json("stream_append.json")
    # file-per-trigger → at least two batches, recorded as ONE high-water
    # mark per stream (not an append-only list)
    assert led["streams"][ckpt]["hwm"] >= 1
    assert led["streams"][ckpt]["inflight"] is None

    # restart on the same checkpoint: source already consumed, no change
    n_blocks = cat.read(spark, "postings").count()
    q2 = stream_index_append(
        spark.readStream.schema(readd.schema)
        .option("maxFilesPerTrigger", 1).parquet(str(src)),
        "st1", cfg, ckpt,
    )
    assert q2.awaitTermination(120)
    assert cat.read(spark, "postings").count() == n_blocks
    assert _rank(spark, cfg, "st1", queries) == before


def test_apply_batch_redelivery_is_idempotent(spark, tmp_path):
    """Crash-redelivery contract: the same (batch_df, batch_id) applied
    twice appends exactly once — the second call hits the ledger and
    no-ops."""
    cfg, docs, queries = _env(spark, tmp_path, "st2")
    cat = IndexCatalog(str(pathlib.Path(cfg.index_root) / "st2"))
    new = spark.createDataFrame(
        [(1000, "zzstreamterm alpha beta"), (1001, "zzstreamterm gamma")],
        "pid long, text string",
    )
    assert _apply_batch(cfg, "st2", new, 7, "pid", "text") is True
    n_blocks = cat.read(spark, "postings").count()
    assert _apply_batch(cfg, "st2", new, 7, "pid", "text") is False
    assert cat.read(spark, "postings").count() == n_blocks
    pids, _, _ = Searcher("st2", spark, cfg).search("zzstreamterm", k=5)
    assert set(pids) == {1000, 1001}


def test_second_stream_incarnation_gets_fresh_batch_ids(spark, tmp_path):
    """Spark numbers every stream incarnation's batches from 0; the
    ledger keys on (stream_key, batch_id), so a NEW stream (new
    checkpoint) against the same index must not collide with the first
    stream's batch 0 — before the key, its first batches were silently
    dropped."""
    cfg, docs, queries = _env(spark, tmp_path, "st3")
    cat = IndexCatalog(str(pathlib.Path(cfg.index_root) / "st3"))
    a = spark.createDataFrame([(2000, "zzfirststream only")],
                              "pid long, text string")
    b = spark.createDataFrame([(3000, "zzsecondstream only")],
                              "pid long, text string")
    assert _apply_batch(cfg, "st3", a, 0, "pid", "text",
                        stream_key="ckptA") is True
    # second incarnation, same batch_id 0, different stream → must apply
    assert _apply_batch(cfg, "st3", b, 0, "pid", "text",
                        stream_key="ckptB") is True
    s = Searcher("st3", spark, cfg)
    assert s.search("zzsecondstream", k=5)[0] == [3000]
    # and re-delivery within each incarnation still no-ops
    assert _apply_batch(cfg, "st3", b, 0, "pid", "text",
                        stream_key="ckptB") is False


def test_ledger_stays_bounded_over_many_batches(spark, tmp_path):
    """1,000 micro-batches (empty — the ledger records them regardless)
    leave an O(#streams) ledger: one high-water mark, not 1,000 entries,
    and the sidecar is re-read/re-written per batch so its size IS the
    per-batch driver cost."""
    cfg, docs, queries = _env(spark, tmp_path, "st4")
    cat = IndexCatalog(str(pathlib.Path(cfg.index_root) / "st4"))
    # an empty micro-batch has nothing to scan (Spark hands foreachBatch
    # an empty local relation); a frame over a parallelized empty list
    # would instead run Spark jobs for every emptiness probe
    empty = spark.createDataFrame(spark.sparkContext.emptyRDD(),
                                  "pid long, text string")
    for bid in range(1000):
        assert _apply_batch(cfg, "st4", empty, bid, "pid", "text",
                            stream_key="ck") is True
    led = cat.read_json("stream_append.json")
    assert led["streams"] == {"ck": {"hwm": 999, "inflight": None}}
    assert (pathlib.Path(cat.path("")) / "stream_append.json") \
        .stat().st_size < 1024


def test_crash_inside_add_rolls_back_then_reapplies(spark, tmp_path,
                                                    monkeypatch):
    """The applied-but-unrecorded window: add() completes (or partially
    completes) but the ledger commit never happens. Re-delivery must find
    the in-flight marker, roll the batch's pids back (tombstone them
    with IndexUpdater.remove) and re-apply — not double-append, not
    raise 'already live'."""
    import pytest
    from colbert_spark.operators import builder

    cfg, docs, queries = _env(spark, tmp_path, "st5")
    cat = IndexCatalog(str(pathlib.Path(cfg.index_root) / "st5"))
    new = spark.createDataFrame(
        [(5000, "zzcrashterm alpha beta"), (5001, "zzcrashterm gamma")],
        "pid long, text string",
    )

    real_add = IndexUpdater.add

    def crashing_add(self, d, **kw):
        real_add(self, d, **kw)
        raise RuntimeError("crash after append, before ledger commit")

    monkeypatch.setattr(IndexUpdater, "add", crashing_add)
    with pytest.raises(RuntimeError, match="before ledger commit"):
        _apply_batch(cfg, "st5", new, 3, "pid", "text", stream_key="ck")
    led = cat.read_json("stream_append.json")
    assert led["streams"]["ck"] == {"hwm": -1, "inflight": 3}

    monkeypatch.setattr(IndexUpdater, "add", real_add)
    assert _apply_batch(cfg, "st5", new, 3, "pid", "text",
                        stream_key="ck") is True
    led = cat.read_json("stream_append.json")
    assert led["streams"]["ck"] == {"hwm": 3, "inflight": None}

    s = Searcher("st5", spark, cfg)
    pids, ranks, scores = s.search("zzcrashterm", k=5)
    assert set(pids) == {5000, 5001}
    # duplicate postings would trip the compaction kernel's sorted-adjacent
    # dup-pid guard — a clean coalesce is proof the rollback was complete
    up = IndexUpdater("st5", spark, cfg)
    builder.coalesce_index(up.catalog, up.config, up.avgdl)
    pids2, _, scores2 = Searcher("st5", spark, cfg).search("zzcrashterm", k=5)
    assert (pids2, scores2) == (pids, scores)


def test_crash_mid_add_before_doc_stats_rolls_back_then_reapplies(
        spark, tmp_path, monkeypatch):
    """add() crashes after its postings append and before its doc_stats
    write, in a batch that re-adds a removed pid and adds a new one.
    Re-delivery rolls back and re-applies: both pids are searchable, the
    point rankings equal those of the same index state reached without
    the crash, and coalesce_index passes its duplicate-pid guard with the
    rankings unchanged."""
    import pytest
    from colbert_spark.operators import builder

    cfg, docs, queries = _env(spark, tmp_path, "st8")
    ref_cfg = _env(spark, tmp_path, "st8ref")[0]
    cat = IndexCatalog(str(pathlib.Path(cfg.index_root) / "st8"))
    readd = docs.filter(F.col("pid") == 7)
    text7 = readd.first()["text"]
    batch = readd.unionByName(spark.createDataFrame(
        [(5000, "zzcrashterm alpha t00003")], "pid long, text string"))
    texts = [r["text"] for r in queries.collect()] + [text7, "zzcrashterm"]
    for name in ("st8", "st8ref"):
        IndexUpdater(name, spark, cfg).remove([7])

    real_write = IndexCatalog.write

    def crashing_write(self, df, table, mode="overwrite", partition_by=None):
        if table == "doc_stats":
            raise RuntimeError("crash before the doc_stats replace")
        return real_write(self, df, table, mode, partition_by)

    monkeypatch.setattr(IndexCatalog, "write", crashing_write)
    with pytest.raises(RuntimeError, match="before the doc_stats replace"):
        _apply_batch(cfg, "st8", batch, 0, "pid", "text", stream_key="ck")
    assert cat.read_json("stream_append.json")["streams"]["ck"] == {
        "hwm": -1, "inflight": 0}
    monkeypatch.setattr(IndexCatalog, "write", real_write)
    assert _apply_batch(cfg, "st8", batch, 0, "pid", "text",
                        stream_key="ck") is True
    assert _apply_batch(ref_cfg, "st8ref", batch, 0, "pid", "text",
                        stream_key="ck") is True

    def point(name):
        s = Searcher(name, spark, cfg)
        return [s.search(t, k=10) for t in texts]

    got = point("st8")
    assert got[-1][0] == [5000]
    assert 7 in got[-2][0]
    assert got == point("st8ref")
    up = IndexUpdater("st8", spark, cfg)
    builder.coalesce_index(up.catalog, up.config, up.avgdl)
    assert point("st8") == got


def test_inflight_marker_for_other_batch_fails_loud(spark, tmp_path):
    import pytest

    cfg, docs, queries = _env(spark, tmp_path, "st6")
    cat = IndexCatalog(str(pathlib.Path(cfg.index_root) / "st6"))
    cat.write_json("stream_append.json", {
        "version": 2, "streams": {"ck": {"hwm": 1, "inflight": 2}},
    })
    new = spark.createDataFrame([(7000, "zzother")], "pid long, text string")
    with pytest.raises(RuntimeError, match="in-flight"):
        _apply_batch(cfg, "st6", new, 3, "pid", "text", stream_key="ck")


def test_v1_ledger_migrates_to_high_water_marks(spark, tmp_path):
    cfg, docs, queries = _env(spark, tmp_path, "st7")
    cat = IndexCatalog(str(pathlib.Path(cfg.index_root) / "st7"))
    cat.write_json("stream_append.json",
                   {"applied": ["ck#0", "ck#1", "other#0"]})
    new = spark.createDataFrame([(8000, "zzmigrated")],
                                "pid long, text string")
    # batches at or below the migrated hwm skip; the next one applies
    assert _apply_batch(cfg, "st7", new, 1, "pid", "text",
                        stream_key="ck") is False
    assert _apply_batch(cfg, "st7", new, 2, "pid", "text",
                        stream_key="ck") is True
    led = cat.read_json("stream_append.json")
    assert led["streams"]["ck"] == {"hwm": 2, "inflight": None}
    assert led["streams"]["other"]["hwm"] == 0
    assert Searcher("st7", spark, cfg).search("zzmigrated", k=5)[0] == [8000]


def test_stream_auto_maintain_bounds_segment_debt(spark, tmp_path):
    """auto_maintain folds appended segments as the stream drains: after
    the backlog, the appended-block namespace is empty (debt bounded over
    an unbounded stream) and rankings equal the original full build."""
    cfg, docs, queries = _env(spark, tmp_path, "st8")
    before = _rank(spark, cfg, "st8", queries)
    IndexUpdater("st8", spark, cfg).remove(list(range(20)))

    src = tmp_path / "am_src"
    readd = docs.filter(F.col("pid") < 20)
    readd.filter(F.col("pid") < 10).coalesce(1).write.mode("overwrite") \
        .parquet(str(src))
    readd.filter(F.col("pid") >= 10).coalesce(1).write.mode("append") \
        .parquet(str(src))
    q = stream_index_append(
        spark.readStream.schema(readd.schema)
        .option("maxFilesPerTrigger", 1).parquet(str(src)),
        "st8", cfg, str(tmp_path / "am_ckpt"), auto_maintain=0.0,
    )
    assert q.awaitTermination(240)
    up = IndexUpdater("st8", spark, cfg)
    debt = up.segment_debt()
    assert debt["appended_blocks"] == 0 and debt["tombstones"] == 0
    assert _rank(spark, cfg, "st8", queries) == before
