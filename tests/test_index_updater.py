"""IndexUpdater semantics (mirror of colbert/tests/index_updater_test.py:
50-208): remove pids → gone from results; re-add → results restored;
coalesce → identical rankings with fewer blocks."""

from __future__ import annotations

import numpy as np
import pytest
import pyspark.sql.functions as F

from colbert_spark.operators import builder
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.index_updater import IndexUpdater
from colbert_spark.plans.indexer import Indexer
from colbert_spark.plans.searcher import Searcher
from colbert_spark.sources.catalog import IndexCatalog
from colbert_spark.sources.datagen import gen_docs_pdf, gen_queries_pdf
from tests.equivalence import EDGE_QUERIES, assert_equivalent_views


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
    Indexer(cfg).index("u1", docs, overwrite=True)
    return cfg, docs, queries


def _rank(spark, cfg, queries):
    return sorted(map(tuple,
                      Searcher("u1", spark, cfg).search_all(queries, k=10).df.collect()))


def test_remove_then_readd_restores(spark, env):
    cfg, docs, queries = env
    before = _rank(spark, cfg, queries)
    victims = sorted({r[1] for r in before})[:3]  # pids appearing in results

    up = IndexUpdater("u1", spark, cfg)
    up.remove(victims)
    after_remove = _rank(spark, cfg, queries)
    assert all(pid not in victims for (_, pid, _, _) in after_remove)
    assert after_remove != before

    up2 = IndexUpdater("u1", spark, cfg)
    up2.add(docs.filter(F.col("pid").isin(victims)))
    after_readd = _rank(spark, cfg, queries)
    assert after_readd == before  # frozen stats ⇒ exact restoration


#: brand-new terms for add(): their term_ids are xxhash64 values, and
#: zzneg1's is negative (its bucket comes from pmod, not a plain remainder)
NEW_TERM_DOCS = [
    (1000, "zzneg1 zzneg1 t00000 t00004 zzbrandnew"),
    (1001, "zzneg1 other words here t00007"),
    (1002, "zzbrandnew t00004 t00004"),
]


def test_point_search_equals_batch_across_index_states(spark, env):
    """search() ≡ search_all, row for row, after remove,
    add of brand-new terms, re-add and coalesce — each read by a freshly
    opened Searcher (the fresh index: test_index_search)."""
    cfg, docs, queries = env
    texts = ([r["text"] for r in queries.collect()] + EDGE_QUERIES
             + ["zzneg1 t00004", "zzbrandnew zzneg1 t00000"])

    def check(extra_allowed=(10**6,)):
        assert_equivalent_views(spark, Searcher("u1", spark, cfg), texts,
                                extra_allowed=list(extra_allowed))

    victims = sorted({r[1] for r in _rank(spark, cfg, queries)})[:3]
    IndexUpdater("u1", spark, cfg).remove(victims)
    check(extra_allowed=[10**6, *victims])  # removed pids stay out
    IndexUpdater("u1", spark, cfg).add(
        spark.createDataFrame(NEW_TERM_DOCS, "pid long, text string"))
    cat = Searcher("u1", spark, cfg)
    neg = cat.term_dict.filter(F.col("term") == "zzneg1").collect()
    assert neg and neg[0]["term_id"] < 0
    assert set(cat.search("zzneg1", k=5)[0]) == {1000, 1001}
    check()
    IndexUpdater("u1", spark, cfg).add(docs.filter(F.col("pid").isin(victims)))
    check()
    up = IndexUpdater("u1", spark, cfg)
    builder.coalesce_index(up.catalog, up.config, up.avgdl)
    check()


def test_tombstones_past_old_collect_bound_stay_driver_local(spark, env):
    """Tombstones have one driver-held form at any size. 150k more
    tombstones of absent pids (past the 100k rows where a DataFrame form
    used to take over and send search() through Spark) change no
    ranking, and search() still runs no Spark job."""
    cfg, docs, queries = env
    texts = [r["text"] for r in queries.collect()][:4]
    removed = list(range(100, 120))
    IndexUpdater("u1", spark, cfg).remove(removed)
    s = Searcher("u1", spark, cfg)
    want = [s.search(t, k=10) for t in texts]
    want_all = sorted(map(tuple, s.search_all(queries, k=10).df.collect()))
    assert all(pid not in set(removed) for (_, pid, _, _) in want_all)

    IndexUpdater("u1", spark, cfg).remove(range(10**6, 10**6 + 150_000))
    s = Searcher("u1", spark, cfg)
    assert s.tombstones[0].size == 150_020
    sc = spark.sparkContext
    group = "test-large-tombstones-point-search"
    sc.setJobGroup(group, "point searches past the old bound")
    try:
        assert [s.search(t, k=10) for t in texts] == want
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(map(tuple, s.search_all(queries, k=10).df.collect())) \
        == want_all


def test_add_duplicate_pid_rejected(spark, env):
    cfg, docs, _ = env
    with pytest.raises(ValueError, match="already live"):
        IndexUpdater("u1", spark, cfg).add(docs.filter(F.col("pid") == 5))


def test_add_new_docs_and_terms_searchable(spark, env):
    cfg, docs, queries = env
    new = spark.createDataFrame(
        [(1000, "zzbrandnew zzbrandnew t00000 t00004"),
         (1001, "zzbrandnew other words here")],
        "pid long, text string",
    )
    IndexUpdater("u1", spark, cfg).add(new)
    s = Searcher("u1", spark, cfg)
    pids, ranks, scores = s.search("zzbrandnew", k=5)
    assert set(pids) == {1000, 1001}
    assert pids[0] == 1000  # tf=2 beats tf=1


def test_coalesce_preserves_rankings_and_compacts(spark, env):
    cfg, docs, queries = env
    import pathlib as _pl
    cat = IndexCatalog(str(_pl.Path(cfg.index_root) / "u1"))
    before = _rank(spark, cfg, queries)
    n_blocks_before = cat.read(spark, "postings").count()

    up = IndexUpdater("u1", spark, cfg)
    up.remove([0, 1, 2])
    builder.coalesce_index(cat, cfg, up.avgdl)
    after = _rank(spark, cfg, queries)
    # tombstones physically gone; results identical to tombstone-filtered
    removed_live = {r[1] for r in after} & {0, 1, 2}
    assert not removed_live
    n_blocks_after = cat.read(spark, "postings").count()
    # salted head term (4 salt runs) merges into fewer, fuller blocks
    assert n_blocks_after <= n_blocks_before
    # no tombstones left in the committed version
    assert not cat.table_exists("tombstones")
    # rankings equal a fresh searcher's view before compaction
    up_check = _rank(spark, cfg, queries)
    assert up_check == after


def test_readd_after_direct_coalesce(spark, env):
    """remove → coalesce_index directly → re-add one of the removed pids.
    Compaction must prune doc_stats along with the postings: before the
    fix a removed pid still sat in doc_stats after a direct compaction,
    and add()'s clash check raised a false "already live" ValueError for
    a doc that was physically gone."""
    cfg, docs, queries = env
    import pathlib as _pl
    cat = IndexCatalog(str(_pl.Path(cfg.index_root) / "u1"))
    before = _rank(spark, cfg, queries)
    victims = sorted({r[1] for r in before})[:3]

    up = IndexUpdater("u1", spark, cfg)
    up.remove(victims)
    builder.coalesce_index(cat, cfg, up.avgdl)
    # doc_stats shrank with the postings
    live_pids = {r["pid"] for r in cat.read(spark, "doc_stats").collect()}
    assert not (live_pids & set(victims))

    up2 = IndexUpdater("u1", spark, cfg)
    up2.add(docs.filter(F.col("pid").isin(victims)))  # must not raise
    assert _rank(spark, cfg, queries) == before  # frozen stats ⇒ restored


def test_readd_path_avoids_driver_collect(spark, env, monkeypatch):
    """The re-add branch must not round-trip the tombstone table through
    the driver (remove()'s contract: tombstone tables can be large)."""
    cfg, docs, queries = env
    from pyspark.sql import DataFrame
    before = _rank(spark, cfg, queries)
    victims = sorted({r[1] for r in before})[:2]
    up = IndexUpdater("u1", spark, cfg)
    up.remove(victims)

    def _no_pandas(self):
        raise AssertionError("tombstones collected to the driver")

    monkeypatch.setattr(DataFrame, "toPandas", _no_pandas)
    IndexUpdater("u1", spark, cfg).add(docs.filter(F.col("pid").isin(victims)))
    monkeypatch.undo()
    assert _rank(spark, cfg, queries) == before


# -- epoch re-add + eager purge surgery (r5) ---------------------------------
# LSM epoch model: remove() = tombstone rows with an epoch bound; re-add =
# pure append in a fresh epoch (zero existing blocks/files touched — the
# O(batch) answer to the reference updater's patch-only-affected-chunks
# goal, colbert/index_updater.py:176-273). purge() = EAGER physical
# removal via block-targeted file surgery with the compaction-debt policy.


def _postings_files(cat):
    import pathlib
    return {
        str(p): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in pathlib.Path(cat.path("postings")).rglob("part-*")
    }


def test_readd_is_pure_append_zero_files_touched(spark, env):
    """The headline property: a remove -> re-add cycle leaves EVERY
    pre-existing posting file byte-untouched (only new-epoch files
    appear) and restores rankings exactly — regardless of pid locality
    (these victims sit inside every block range)."""
    cfg, docs, queries = env
    import pathlib as _pl
    cat = IndexCatalog(str(_pl.Path(cfg.index_root) / "u1"))
    before = _rank(spark, cfg, queries)
    victims = sorted({r[1] for r in before})[:3]

    IndexUpdater("u1", spark, cfg).remove(victims)
    files_after_remove = _postings_files(cat)

    IndexUpdater("u1", spark, cfg).add(docs.filter(F.col("pid").isin(victims)))
    files_after_add = _postings_files(cat)
    for f, sig in files_after_remove.items():
        assert files_after_add.get(f) == sig, f"existing file {f} touched"
    assert len(files_after_add) > len(files_after_remove)  # new epoch files
    assert _rank(spark, cfg, queries) == before  # frozen stats => exact


def test_add_writes_at_most_one_file_per_bucket(spark, env):
    """Small-files guard: one append adds AT MOST one posting file to each
    bucket= dir (each bucket co-located into one task before the
    partitionBy write, mirroring the build layout), so at most
    index_partitions files in all. A write whose tasks split a bucket
    fails the per-dir check even under the total bound. The unaligned layout
    this regresses — hash-by-term_id tasks each spanning ~every mod-based
    bucket — wrote up to tasks×buckets tiny files per micro-batch
    (measured 655 for a 50-doc append at 32×32), which no object-store
    listing survives at streaming scale."""
    cfg, docs, queries = env
    import pathlib as _pl
    cat = IndexCatalog(str(_pl.Path(cfg.index_root) / "u1"))
    before = set(_postings_files(cat))

    # 40 docs over the full shared vocabulary → blocks in every bucket,
    # the worst case for write fan-out
    new_pdf = gen_docs_pdf(np.arange(40))
    new_pdf["pid"] = np.arange(5000, 5040)
    IndexUpdater("u1", spark, cfg).add(
        spark.createDataFrame(new_pdf[["pid", "text"]]))

    new_files = set(_postings_files(cat)) - before
    assert 0 < len(new_files) <= cfg.index_partitions, (
        f"append fanned out into {len(new_files)} files "
        f"(> index_partitions={cfg.index_partitions})")
    per_bucket: dict[str, int] = {}
    for f in new_files:
        bucket_dir = _pl.Path(f).parent.name
        assert bucket_dir.startswith("bucket="), f
        per_bucket[bucket_dir] = per_bucket.get(bucket_dir, 0) + 1
    split = {b: n for b, n in per_bucket.items() if n > 1}
    assert not split, f"append split buckets across files: {split}"
    # and the appended docs are actually searchable through the new layout
    s = Searcher("u1", spark, cfg)
    pids, _, _ = s.search("t00000 t00004 t00007", k=50)
    assert any(p >= 5000 for p in pids)


def test_readd_then_remove_again_excludes_new_postings(spark, env):
    """Epoch bounds must refresh on re-removal: remove -> re-add ->
    remove again excludes BOTH generations of postings; coalesce folds
    them physically; a final re-add restores."""
    cfg, docs, queries = env
    before = _rank(spark, cfg, queries)
    victims = sorted({r[1] for r in before})[:2]
    readd = docs.filter(F.col("pid").isin(victims))

    IndexUpdater("u1", spark, cfg).remove(victims)
    after_remove = _rank(spark, cfg, queries)
    IndexUpdater("u1", spark, cfg).add(readd)
    assert _rank(spark, cfg, queries) == before
    IndexUpdater("u1", spark, cfg).remove(victims)
    assert _rank(spark, cfg, queries) == after_remove  # both epochs excluded

    up = IndexUpdater("u1", spark, cfg)
    builder.coalesce_index(up.catalog, up.config, up.avgdl)
    assert _rank(spark, cfg, queries) == after_remove  # fold preserves view
    IndexUpdater("u1", spark, cfg).add(readd)
    assert _rank(spark, cfg, queries) == before


def _catalog(cfg):
    import pathlib
    return IndexCatalog(str(pathlib.Path(cfg.index_root) / "u1"))


def _doc_stats_pids(spark, cat):
    return {r["pid"] for r in cat.read(spark, "doc_stats").select("pid")
            .collect()}


def test_remove_and_purge_of_nothing_run_no_jobs(spark, env):
    """remove([]) and purge([]) return before any Spark job: no (empty)
    tombstones table appears and no postings file is rewritten."""
    cfg, docs, queries = env
    cat = _catalog(cfg)
    up = IndexUpdater("u1", spark, cfg)
    files = _postings_files(cat)
    sc = spark.sparkContext
    group = "test-remove-purge-nothing"
    sc.setJobGroup(group, "empty remove and purge")
    try:
        up.remove([])
        up.purge([])
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not cat.table_exists("tombstones")
    assert _postings_files(cat) == files


def test_purge_noop_when_absent(spark, env):
    cfg, docs, queries = env
    before = _rank(spark, cfg, queries)
    IndexUpdater("u1", spark, cfg).purge([10_000_000])
    assert _rank(spark, cfg, queries) == before
    assert not _catalog(cfg).table_exists("tombstones")


def test_purge_appended_segment_pid(spark, env):
    """Eager purge of a pid that lives only in an appended segment: it
    leaves search and doc_stats while its segment neighbour stays."""
    cfg, docs, queries = env
    cat = _catalog(cfg)
    new = spark.createDataFrame(
        [(1000, "zzseg one two t00003"), (1001, "zzseg three four")],
        "pid long, text string",
    )
    IndexUpdater("u1", spark, cfg).add(new)
    s = Searcher("u1", spark, cfg)
    assert set(s.search("zzseg", k=5)[0]) == {1000, 1001}

    IndexUpdater("u1", spark, cfg).purge([1000])
    assert Searcher("u1", spark, cfg).search("zzseg", k=5)[0] == [1001]
    stats = _doc_stats_pids(spark, cat)
    assert 1000 not in stats and 1001 in stats
    # the swap must not strand local-fs .crc checksum siblings of the
    # deleted files: every remaining crc pairs with a live data file
    import pathlib
    post_dir = pathlib.Path(cat.path("postings"))
    for crc in post_dir.rglob(".*.crc"):
        paired = crc.parent / crc.name[1:-len(".crc")]
        assert paired.exists(), f"orphan checksum sidecar {crc}"


def test_purge_rewritten_blocks_are_consistent(spark, env):
    """After a purge every block of the index decodes to pids outside the
    purge set, its metadata matches the decoded payload, its block max is
    exactly the BM25 formula over its survivors, and the index lost
    exactly the purged pids' postings."""
    from colbert_spark.functions import codec

    cfg, docs, queries = env
    cat = _catalog(cfg)
    up = IndexUpdater("u1", spark, cfg)
    purged = {3, 50, 51, 120}
    cols = ["term_id", "num_postings", "first_pid", "last_pid",
            "max_block_score", "pids", "tfs", "dls", "enc_bytes"]
    rows = cat.read(spark, "postings").select(*cols).collect()
    total_before = sum(r["num_postings"] for r in rows)
    hit = sum(
        int(np.isin(codec.decode_pids_auto(bytes(r["pids"])),
                    sorted(purged)).sum())
        for r in rows
    )
    assert hit > 0

    up.purge(sorted(purged))
    idf = dict(cat.read(spark, "term_dict").select("term_id", "idf")
               .collect())
    k1, b, avgdl = cfg.k1, cfg.b, up.avgdl
    total = 0
    for r in cat.read(spark, "postings").select(*cols).collect():
        p = codec.decode_pids_auto(bytes(r["pids"]))
        tf = codec.decode_tfs_auto(bytes(r["tfs"])).astype(np.float64)
        dl = codec.decode_tfs_auto(bytes(r["dls"])).astype(np.float64)
        assert not purged & set(p.tolist())
        assert r["num_postings"] == p.size == tf.size == dl.size
        assert (r["first_pid"], r["last_pid"]) == (p[0], p[-1])
        assert r["enc_bytes"] == len(r["pids"]) + len(r["tfs"]) \
            + len(r["dls"])
        scores = idf[r["term_id"]] * tf * (k1 + 1.0) / (
            tf + k1 * (1.0 - b + b * dl / avgdl))
        assert r["max_block_score"] == scores.max()
        total += r["num_postings"]
    assert total == total_before - hit


def test_purge_over_threshold_falls_back_to_coalesce(spark, env):
    """purge of several pids, one of them in an appended segment, always
    ends in the full coalesce: no appended blocks and no tombstones are
    left, and the ranking is the remove view."""
    cfg, docs, queries = env
    cat = _catalog(cfg)
    IndexUpdater("u1", spark, cfg).add(spark.createDataFrame(
        [(1000, "zzseg t00003"), (1001, "zzseg t00004")],
        "pid long, text string"))
    before = _rank(spark, cfg, queries)
    victims = sorted({r[1] for r in before})[:3] + [1000]
    up = IndexUpdater("u1", spark, cfg)
    assert up.segment_debt()["appended_blocks"] > 0
    up.remove(victims)
    remove_view = _rank(spark, cfg, queries)
    IndexUpdater("u1", spark, cfg).purge(victims)
    debt = IndexUpdater("u1", spark, cfg).segment_debt()
    assert debt["appended_blocks"] == 0 and debt["tombstones"] == 0
    assert not cat.table_exists("tombstones")
    after = _rank(spark, cfg, queries)
    assert not ({r[1] for r in after} & set(victims))
    assert after == remove_view
    assert Searcher("u1", spark, cfg).search("zzseg", k=5)[0] == [1001]


def test_purge_scattered_pids_falls_back_to_full_fold(spark, env):
    """purge is remove + coalesce_index. Victims that sit inside every
    block range (low pids), removed and re-added first so both epochs
    of their postings exist, leave the rankings and doc_stats; the
    ranking is the remove view, and no tombstones table is left."""
    cfg, docs, queries = env
    cat = _catalog(cfg)
    before = _rank(spark, cfg, queries)
    victims = sorted({r[1] for r in before})[:3]
    IndexUpdater("u1", spark, cfg).remove(victims)
    remove_view = _rank(spark, cfg, queries)
    IndexUpdater("u1", spark, cfg).add(docs.filter(F.col("pid").isin(victims)))
    assert _rank(spark, cfg, queries) == before

    IndexUpdater("u1", spark, cfg).purge(victims)
    after = _rank(spark, cfg, queries)
    assert not ({r[1] for r in after} & set(victims))
    assert after == remove_view
    assert not (_doc_stats_pids(spark, cat) & set(victims))
    assert not cat.table_exists("tombstones")


def test_purge_crash_before_fold_serves_remove_view(spark, env,
                                                    monkeypatch):
    """A crash between purge's remove and its fold leaves the remove view:
    a fresh Searcher serves it, and a second purge completes the fold
    without changing the ranking."""
    cfg, docs, queries = env
    cat = _catalog(cfg)
    before = _rank(spark, cfg, queries)
    victims = sorted({r[1] for r in before})[:2]

    def crash(*args, **kwargs):
        raise RuntimeError("crash before the fold")

    monkeypatch.setattr(builder, "coalesce_index", crash)
    with pytest.raises(RuntimeError, match="before the fold"):
        IndexUpdater("u1", spark, cfg).purge(victims)
    monkeypatch.undo()
    assert cat.table_exists("tombstones")
    after_crash = _rank(spark, cfg, queries)
    assert not ({r[1] for r in after_crash} & set(victims))
    assert after_crash != before

    IndexUpdater("u1", spark, cfg).purge(victims)
    assert not cat.table_exists("tombstones")
    assert not (_doc_stats_pids(spark, cat) & set(victims))
    assert _rank(spark, cfg, queries) == after_crash


def test_segment_debt_and_maintain(spark, env):
    """Debt-driven compaction policy: metadata-only probe counts appended-
    namespace blocks + tombstones; maintain() coalesces past thresholds
    and is a no-op on a clean index."""
    cfg, docs, queries = env
    up = IndexUpdater("u1", spark, cfg)
    d0 = up.segment_debt()
    assert d0["appended_blocks"] == 0 and d0["tombstones"] == 0
    assert up.maintain() is False  # clean → no-op

    up.add(spark.createDataFrame(
        [(1000, "zzdebt alpha"), (1001, "zzdebt beta")],
        "pid long, text string"))
    up.remove([0, 1])
    up2 = IndexUpdater("u1", spark, cfg)
    d1 = up2.segment_debt()
    assert d1["appended_blocks"] >= 1 and d1["tombstones"] == 2
    assert 0 < d1["appended_fraction"] < 1
    before = _rank(spark, cfg, queries)

    # under-threshold → no-op; zero-threshold → compacts
    assert up2.maintain(max_appended_fraction=0.9,
                        max_tombstone_fraction=0.9) is False
    assert up2.maintain(max_appended_fraction=0.0) is True
    up3 = IndexUpdater("u1", spark, cfg)
    d2 = up3.segment_debt()
    assert d2["appended_blocks"] == 0 and d2["tombstones"] == 0
    assert _rank(spark, cfg, queries) == before  # fold preserves rankings


