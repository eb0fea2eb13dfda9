"""Posting-list construction: tokenize → term dict → salted block build.

The Spark rebuild of the reference's index phase
(colbert/indexing/collection_indexer.py: setup :80-112 / train :226-339 /
index :346-376 / finalize :378-497):

  setup    → corpus stats (N, avgdl) — exact, not sampled (Catalyst partial
             aggregation makes the exact pass as cheap as the sample).
  train    → term dictionary (term → term_id, df, cf, idf). Replaces
             k-means centroid training (A5): the "partitions" of the index
             are terms, not centroids.
  index    → delta-gap posting BLOCKS (tagged auto-codec payloads) with
             per-block max BM25 score (block-max metadata); numpy inside,
             Arrow on the wire.
  finalize → global sort-by-(bucket, term_id) write + manifest + metadata.

One kernel, one feed per caller. Every block write — build, add,
coalesce, merge — is one plan (_blockify): repartition on (term_id,
salt), sort within partitions, then the numpy kernel _make_block_kernel
once per partition (mapInPandas). Only its input differs:

  flat feed    (term_id, salt, pid, tf, doclen) rows — build and add;
  hybrid feed  coalesce and merge (_hybrid_rows): single-salt terms'
               source blocks still ENCODED, unioned with flat multi-salt
               postings; the kernel decodes them and folds the
               driver-held tombstone pair (catalog.collect_tombstones)
               with catalog.tombstoned.

Removal is tombstones, folded by coalesce_index. _make_block_builder is
the per-group reference the tests pin the kernel against.

Skew (north_rule; SURVEY.md §4.4): a head term ("the"/t00000) may hit >50%
of docs — a single groupBy(term) group would be one straggler task. Every
term builds under composite key (term_id, salt = pmod(xxhash64(pid), S_t))
with S_t = ceil(df_t / max_group_postings): the salt count is
df-PROPORTIONAL, so group size (and kernel memory) is bounded by a constant
at any corpus size. Blocks are self-contained (pids+tfs+doclens inline), so
no post-merge is required — the union of the S_t salted runs IS the posting
list, and query-time decode treats blocks independently.

term_id = xxhash64(term): deterministic, shuffle-free id assignment.
Collision probability at 10^8 terms ≈ 3e-4 (birthday, 64-bit); the build
asserts distinct(term) == distinct(term_id) on the term dict and fails
loudly rather than silently merging two terms' postings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from colbert_spark.functions import analysis, bm25
from colbert_spark.functions.codec import (
    decode_pids_auto,
    decode_tfs_auto,
    encode_pids_auto,
    encode_pids_auto_batch,
    encode_tfs_auto,
    encode_u64_auto_batch,
)
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.sources.catalog import (
    POSTINGS_SCHEMA,
    collect_tombstones,
    drop_removed,
    tombstone_bounds,
    tombstoned,
)


def tokenize(docs: DataFrame, config: ColBERTConfig,
             id_col: str = "pid", text_col: str = "text") -> DataFrame:
    """(pid, term, doclen, tf) — shared first stage of every build.

    Arrow path: shuffle-free (tokenize_docs_arrow); output is identical to
    the relational tokenize_docs (equivalence-tested), the physical plan
    has one less corpus-sized exchange.
    """
    return analysis.tokenize_docs_arrow(docs, id_col=id_col,
                                        text_col=text_col,
                                        maxlen=config.doc_maxlen)


def term_agg(token_df: DataFrame) -> DataFrame:
    """(term, df, cf) — the shuffle stage of the term dictionary, split out
    so the Indexer can persist THIS (idf-free) form and fold its stats
    collect into the same driver action as the corpus stats (idf needs
    num_docs, which that action produces)."""
    return token_df.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    )


def term_dict_from_agg(agg: DataFrame, num_docs: int) -> DataFrame:
    """Finish the dictionary: deterministic term_id + frozen idf (cheap
    projection — no extra shuffle over a persisted term_agg)."""
    return agg.select(
        "term",
        F.xxhash64("term").alias("term_id"),
        "df",
        "cf",
        bm25.idf(F.col("df"), num_docs).alias("idf"),
    )


def _make_block_builder(block_size: int, avgdl: float, k1: float, b: float):
    """Per-group reference: one (term_id, salt) group → block rows.

    Receives (term_id, pid, tf, doclen, idf); emits POSTINGS_SCHEMA rows.
    Production writes go through _make_block_kernel; tests pin it against
    this per-group form.
    """

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["pid"].to_numpy(), kind="stable")
        pids = pdf["pid"].to_numpy()[order].astype(np.int64)
        tfs = pdf["tf"].to_numpy()[order].astype(np.int64)
        dls = pdf["doclen"].to_numpy()[order].astype(np.int64)
        term_id = int(pdf["term_id"].iloc[0])
        salt = int(pdf["salt"].iloc[0])
        idf = float(pdf["idf"].iloc[0])
        # a pid hashes to exactly ONE salt group, so duplicate postings for
        # a (term, pid) — corrupted/overlapping segments — always collide
        # HERE, sorted-adjacent (impossible in a fresh build; the guard
        # protects the compaction path, which reuses this kernel)
        if pids.size > 1 and bool(np.any(pids[1:] == pids[:-1])):
            raise ValueError(
                f"term {term_id}: duplicate pids in segments"
            )

        # exact per-posting BM25 term scores (float64) → block max
        tff = tfs.astype(np.float64)
        dlf = dls.astype(np.float64)
        scores = idf * tff * (k1 + 1.0) / (tff + k1 * (1.0 - b + b * dlf / avgdl))

        rows = []
        n = pids.size
        for i, start in enumerate(range(0, n, block_size)):
            sl = slice(start, min(start + block_size, n))
            bp, bt, bd = pids[sl], tfs[sl], dls[sl]
            ep = encode_pids_auto(bp)
            et, ed = encode_tfs_auto(bt), encode_tfs_auto(bd)
            rows.append(
                (
                    term_id,
                    (salt << 32) | i,  # unique block id across salt runs
                    int(bp[0]),
                    int(bp[-1]),
                    int(bp.size),
                    float(scores[sl].max()),
                    ep,
                    et,
                    ed,
                    # stored so lineage/manifest aggregation never has to
                    # re-read the binary columns (column-pruned scan)
                    len(ep) + len(et) + len(ed),
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "term_id", "block_id", "first_pid", "last_pid",
                "num_postings", "max_block_score", "pids", "tfs", "dls",
                "enc_bytes",
            ],
        )

    return build


def _n_salts(count: Column, config: ColBERTConfig) -> Column:
    """ceil(count / max_group_postings), at least 1: the df-proportional
    salt count that bounds every (term_id, salt) group."""
    return F.greatest(
        F.lit(1), F.ceil(count / F.lit(config.max_group_postings)),
    ).cast("long").alias("n_salts")


def _salted(rows: DataFrame, dict_slice: DataFrame, on: str = "term_id",
            *extra) -> DataFrame:
    """Flat feed of _blockify: each posting placed in salt
    pmod(xxhash64(pid), n_salts) — a pid lands in exactly one group of its
    term, so duplicate postings still meet in the kernel's guard."""
    return rows.join(F.broadcast(dict_slice), on).select(
        "term_id", "pid", "tf", "doclen",
        F.pmod(F.xxhash64("pid"), F.col("n_salts")).alias("salt"), *extra,
    )


def build_postings(
    token_df: DataFrame,
    term_dict: DataFrame,
    avgdl: float,
    config: ColBERTConfig,
) -> DataFrame:
    """token_df (pid, term, doclen, tf) → posting-block DataFrame.

    Skew: each term builds under salt = pmod(xxhash64(pid), n_salts) with
    n_salts = ceil(df / max_group_postings) — df-PROPORTIONAL, so group
    size is bounded by a constant regardless of corpus size (a head term
    hitting 60% of 10^12 docs simply gets ~600k parallel sub-groups; a
    fixed salt count would leave 10^10-posting stragglers). Blocks are
    self-contained, so salted runs never merge. Returns blocks WITH a
    `bucket` column for partition-pruned storage.
    """
    dict_slice = term_dict.select("term", "term_id",
                                  _n_salts(F.col("df"), config))
    # idf is per-TERM — it re-attaches via a broadcast join AFTER the
    # (term_id, salt) exchange (_blockify's idf_table), so the corpus-sized
    # shuffle carries 5 longs/row instead of 5 longs + a high-entropy
    # double (~17% fewer raw bytes, more compressed: idf doubles don't
    # zstd well). The post-shuffle broadcast join preserves the exchange's
    # hashpartitioning, so the kernel needs no second exchange
    # (plan-verified in PLANS.md).
    return _blockify(_salted(token_df, dict_slice, "term"), avgdl, config,
                     idf_table=term_dict.select("term_id", "idf"))


def _encode_blocks(p, t, d, idf, b_starts, avgdl: float, k1: float,
                   b: float) -> dict:
    """Block columns first_pid .. enc_bytes of POSTINGS_SCHEMA for the
    blocks starting at b_starts and tiling the pid-sorted (p, t, d): exact
    per-posting BM25 (float64, _make_block_builder's op order) → block
    max, and the three batched payload encoders. idf is per posting."""
    tff = t.astype(np.float64)
    dlf = d.astype(np.float64)
    scores = idf * tff * (k1 + 1.0) / (tff + k1 * (1.0 - b + b * dlf / avgdl))
    b_counts = np.diff(np.append(b_starts, p.size))
    ep = encode_pids_auto_batch(p, b_starts, b_counts)
    et = encode_u64_auto_batch(t.astype(np.uint64), b_starts, b_counts)
    ed = encode_u64_auto_batch(d.astype(np.uint64), b_starts, b_counts)
    return {
        "first_pid": p[b_starts],
        "last_pid": p[b_starts + b_counts - 1],
        "num_postings": b_counts.astype(np.int32),
        "max_block_score": np.maximum.reduceat(scores, b_starts),
        "pids": ep,
        "tfs": et,
        "dls": ed,
        "enc_bytes": np.fromiter(
            (len(a) + len(x) + len(y) for a, x, y in zip(ep, et, ed)),
            dtype=np.int32, count=len(ep)),
    }


def _make_region_builder(block_size: int, avgdl: float, k1: float,
                         b: float):
    """Vectorized block-build core of _make_block_kernel."""

    def build_region(tid, salt, p, t, d, idf, group_starts):
        """Vectorized block build over a region of COMPLETE groups
        (arrays sorted by (term_id, salt, pid); group_starts = start
        index of each group). Emits one DataFrame of POSTINGS_SCHEMA
        rows — the entire per-group/per-block work is numpy + the three
        batched payload encoders; no per-group Python beyond the
        list-of-bytes assembly."""
        n = p.size
        is_start = np.zeros(n, dtype=bool)
        is_start[group_starts] = True
        # duplicate postings for a (term, pid) — corrupted/overlapping
        # segments — are sorted-adjacent within a group
        dup = (p[1:] == p[:-1]) & ~is_start[1:]
        if dup.any():
            bad = int(np.flatnonzero(dup)[0]) + 1
            raise ValueError(
                f"term {int(tid[bad])}: duplicate pids in segments")
        group_counts = np.diff(np.append(group_starts, n))
        idx_in_group = np.arange(n) - np.repeat(group_starts, group_counts)
        b_starts = np.flatnonzero(idx_in_group % block_size == 0)
        blk_i = idx_in_group[b_starts] // block_size
        return pd.DataFrame({
            "term_id": tid[b_starts],
            "block_id": (salt[b_starts].astype(np.int64) << 32) | blk_i,
            **_encode_blocks(p, t, d, idf, b_starts, avgdl, k1, b),
        })

    return build_region


#: positions in _make_block_kernel's column lists
#: (term_id, salt, pid, tf, doclen, idf, epoch)
_TID, _SALT, _PID, _TF, _DL = range(5)


def _make_block_kernel(block_size: int, avgdl: float, k1: float, b: float,
                       tomb=None):
    """mapInPandas kernel of _blockify: partitions shuffled on
    (term_id, salt) and sorted within on (term_id, salt, pid), so each
    group's rows are contiguous. Per Arrow batch it

      1. expands still-ENCODED rows (hybrid feed: pid == -1, payload
         columns set) into flat postings in place; flat rows pass through;
      2. drops tombstoned postings, epoch-bounded, when `tomb` is given;
      3. carries the trailing group, which may continue in the next batch;
      4. sorts each complete region by (group, pid);
      5. builds its blocks with one _make_region_builder call.

    Output is byte-identical to _make_block_builder per group
    (pytest-pinned). Memory bound: the carry is one group, and group size
    is bounded by config.max_group_postings via the df-proportional salts.
    """
    build_region = _make_region_builder(block_size, avgdl, k1, b)
    if tomb is not None and not tomb[0].size:
        tomb = None

    def expand(pdf: pd.DataFrame) -> list:
        p = pdf["pid"].to_numpy().astype(np.int64, copy=False)
        cols = [
            pdf["term_id"].to_numpy(), pdf["salt"].to_numpy(), p,
            pdf["tf"].to_numpy().astype(np.int64, copy=False),
            pdf["doclen"].to_numpy().astype(np.int64, copy=False),
            pdf["idf"].to_numpy(),
            pdf["epoch"].to_numpy() if "epoch" in pdf
            else np.zeros(len(pdf), dtype=np.int64),
        ]
        enc = np.flatnonzero(p < 0) if "pids" in pdf else ()
        if not len(enc):
            return cols
        payloads = [pdf[c].to_numpy()[enc] for c in ("pids", "tfs", "dls")]
        dec = [(decode_pids_auto(bytes(pb)), decode_tfs_auto(bytes(tb)),
                decode_tfs_auto(bytes(db)))
               for pb, tb, db in zip(*payloads)]
        sizes = np.ones(len(pdf), dtype=np.int64)
        sizes[enc] = [x[0].size for x in dec]
        out = [np.repeat(c, sizes) for c in cols]
        # positions of the decoded postings in the expanded arrays
        se = sizes[enc]
        pos = np.arange(se.sum()) + np.repeat(
            (np.cumsum(sizes) - sizes)[enc] - (np.cumsum(se) - se), se)
        for k in (_PID, _TF, _DL):
            out[k][pos] = np.concatenate([x[k - _PID] for x in dec])
        return out

    def region(cols: list):
        tid, salt, p, t, d, idf, epoch = cols
        if tomb is not None:
            keep = ~tombstoned(p, epoch, tomb)
            tid, salt, p, t, d, idf = (
                c[keep] for c in (tid, salt, p, t, d, idf))
        if not p.size:
            return None
        group = np.cumsum(np.concatenate(
            ([0], (tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1]))))
        order = np.lexsort((p, group))
        starts = np.flatnonzero(np.diff(group, prepend=-1))
        return build_region(tid[order], salt[order], p[order], t[order],
                            d[order], idf[order], starts)

    def concat(parts: list) -> list:
        return [np.concatenate(col) for col in zip(*parts)]

    def run(batches):
        carry: list = []   # column lists of the trailing, unfinished group
        for pdf in batches:
            if not len(pdf):
                continue
            cols = expand(pdf)
            tid, salt = cols[_TID], cols[_SALT]
            bounds = np.flatnonzero(
                (tid[1:] != tid[:-1]) | (salt[1:] != salt[:-1])) + 1
            if bounds.size:
                cut = int(bounds[-1])
            elif carry and (tid[0], salt[0]) == (carry[0][_TID][0],
                                                 carry[0][_SALT][0]):
                carry.append(cols)  # the whole batch continues the carry
                continue
            else:
                cut = 0
            done = carry + [[c[:cut] for c in cols]] if cut else carry
            carry = [[c[cut:] for c in cols]]
            out = region(concat(done)) if done else None
            if out is not None:
                yield out
        out = region(concat(carry)) if carry else None
        if out is not None:
            yield out

    return run


def _blockify(rows: DataFrame, avgdl: float, config: ColBERTConfig,
              idf_table: DataFrame | None = None, tomb=None) -> DataFrame:
    """Feed rows → bounded-group posting blocks with a `bucket` column.

    rows are (term_id, salt, pid, tf, doclen[, idf]) — the flat feed — or
    the hybrid feed of _hybrid_rows, which adds (epoch, pids, tfs, dls).
    ONE repartition on (term_id, salt), a partition-local sort on
    (term_id, salt, pid), then _make_block_kernel once per partition
    (mapInPandas: no per-group Python round-trips). When idf_table is
    given, `rows` must NOT carry idf — it broadcast-joins in AFTER the
    exchange, which keeps its partitioning, so the corpus-sized shuffle
    never moves the per-term double. `tomb` (collect_tombstones) folds
    inside the kernel (the hybrid feed carries the epochs). The exchange
    takes the session's spark.sql.shuffle.partitions as its task count;
    any count keeps every group whole, so the blocks never depend on it.
    """
    kernel = _make_block_kernel(config.block_size, avgdl, config.k1,
                                config.b, tomb)
    # narrow the exchanged row (guide: shuffle fewer bytes): tf/doclen are
    # bounded by doc_maxlen and salt by the epoch space — int32 cuts the
    # corpus-sized shuffle from 40 to 28 bytes/row raw (ANSI mode makes
    # any impossible overflow loud). term_id/pid stay long.
    rep = rows.select(
        "term_id", "pid",
        F.col("tf").cast("int").alias("tf"),
        F.col("doclen").cast("int").alias("doclen"),
        F.col("salt").cast("int").alias("salt"),
        *[c for c in ("idf", "epoch", "pids", "tfs", "dls")
          if c in rows.columns],
    ).repartition(
        # an explicit count, so AQE never coalesces it: the kernel costs
        # Python CPU per posting, not shuffle bytes, and a byte-sized
        # coalesce ran the build's blocks in one task on one core
        int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        "term_id", "salt",
    )
    if idf_table is not None:
        rep = rep.join(F.broadcast(idf_table), "term_id")
    blocks = (
        rep.sortWithinPartitions("term_id", "salt", "pid")
        .mapInPandas(kernel, schema=POSTINGS_SCHEMA)
    )
    return blocks.withColumn(
        "bucket", F.pmod(F.col("term_id"), F.lit(config.index_partitions))
    )


def doc_stats(token_df: DataFrame) -> DataFrame:
    """(pid, doclen) — one row per doc (analog of doclens.{chunk}.json,
    collection_indexer.py:349-356)."""
    return token_df.groupBy("pid").agg(F.first("doclen").alias("doclen"))


def decode_blocks_flat(blocks: DataFrame) -> DataFrame:
    """blocks → flat (term_id, pid, tf, doclen, epoch) via mapInPandas —
    embarrassingly parallel (each block is self-contained: no grouping,
    no skew). epoch = block_id >> 32 (the salt namespace) so callers can
    fold tombstones epoch-bounded. The multi-salt half of the hybrid feed
    (_hybrid_rows)."""

    def decode_flat(batches):
        # per-block decodes land in flat lists and concatenate ONCE per
        # Arrow batch (one output DataFrame instead of one per block —
        # the per-block pandas construction dominated merge/coalesce
        # decode time before r6)
        for pdf in batches:
            n_blocks = len(pdf)
            if not n_blocks:
                continue
            pids_l, tfs_l, dls_l = [], [], []
            sizes = np.empty(n_blocks, dtype=np.int64)
            for i, (pb, tb, db) in enumerate(zip(
                pdf["pids"], pdf["tfs"], pdf["dls"]
            )):
                p = decode_pids_auto(bytes(pb))
                sizes[i] = p.size
                pids_l.append(p)
                tfs_l.append(decode_tfs_auto(bytes(tb)))
                dls_l.append(decode_tfs_auto(bytes(db)))
            tid = np.repeat(pdf["term_id"].to_numpy(), sizes)
            # block epoch (salt namespace) — the tombstone fold is
            # epoch-bounded: a re-added pid's NEW postings survive
            epoch = np.repeat(pdf["block_id"].to_numpy() >> 32, sizes)
            yield pd.DataFrame({
                "term_id": tid,
                "pid": np.concatenate(pids_l),
                "tf": np.concatenate(tfs_l),
                "doclen": np.concatenate(dls_l),
                "epoch": epoch,
            })

    return blocks.select("term_id", "block_id", "pids", "tfs", "dls") \
        .mapInPandas(
            decode_flat,
            schema="term_id long, pid long, tf long, doclen long, epoch long",
        )


def _hybrid_rows(blocks: DataFrame, dict_slice: DataFrame) -> DataFrame:
    """Hybrid feed of _blockify for coalesce and merge: re-blockify source
    blocks WITHOUT flattening the single-salt majority (guide §8: move
    heavy bytes once, decide with small rows).

    Flattening decodes every posting into a 28-byte row, crosses the
    Python boundary twice (decode out, kernel in) and exchanges the flat
    rows. Terms with n_salts == 1 — all but the hottest at any corpus
    size — need no pid-level placement decision (every posting lands in
    salt 0), so their blocks ship through the exchange STILL ENCODED
    (~1-2 bytes/posting; pid = -1 marks them) and decode inside the
    kernel. Only multi-salt terms' postings take the flat form. The
    output of _blockify is byte-identical to blockifying the decoded,
    tombstone-filtered postings flat (pytest-pinned)."""
    src = blocks.join(F.broadcast(dict_slice), "term_id")
    single = src.filter(F.col("n_salts") == 1).select(
        "term_id",
        F.lit(0).alias("salt"),
        F.lit(-1).cast("long").alias("pid"),
        F.lit(-1).alias("tf"),
        F.lit(-1).alias("doclen"),
        F.shiftright("block_id", 32).alias("epoch"),
        "pids", "tfs", "dls",
    )
    multi = _salted(
        decode_blocks_flat(src.filter(F.col("n_salts") > 1)), dict_slice,
        "term_id", "epoch",
        *[F.lit(None).cast("binary").alias(c) for c in ("pids", "tfs", "dls")],
    )
    return single.unionByName(multi)


def block_term_stats(blocks: DataFrame, tomb) -> DataFrame:
    """Per-term LIVE (df, cf) straight from posting blocks — the merge
    stats pass without flattening postings into rows: the kernel decodes
    each block's tf payload (plus pids only when tombstones exist, for
    the epoch-bounded fold) and emits ONE row per block; only those tiny
    partials shuffle. Terms whose postings are all tombstoned drop
    (df > 0 filter). `tomb` is the (sorted pids, before_epochs) pair from
    collect_tombstones."""

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            blk = pdf["block_id"].to_numpy()
            dfs = np.empty(n, dtype=np.int64)
            cfs = np.empty(n, dtype=np.int64)
            tfs_col, pids_col = pdf["tfs"], pdf["pids"]
            for i in range(n):
                t = decode_tfs_auto(bytes(tfs_col.iat[i]))
                if tomb[0].size:
                    p = decode_pids_auto(bytes(pids_col.iat[i]))
                    t = t[~tombstoned(p, blk[i] >> 32, tomb)]
                dfs[i] = t.size
                cfs[i] = t.sum()
            yield pd.DataFrame({"term_id": pdf["term_id"].to_numpy(),
                                "df": dfs, "cf": cfs})

    return (
        blocks.select("term_id", "block_id", "pids", "tfs")
        .mapInPandas(gen, schema="term_id long, df long, cf long")
        .groupBy("term_id")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        .filter(F.col("df") > 0)
    )


def coalesce_index(catalog, config: ColBERTConfig, avgdl: float) -> None:
    """Segment compaction (S13, colbert/utils/coalesce.py:9-111 analog +
    reference index_coalesce_test.py equivalence contract): decode every
    term's blocks across all salt runs / appended segments, drop
    tombstoned pids, and rewrite clean pid-sorted runs, with the same
    rankings (tested). One commit publishes the new postings, doc_stats
    without the removed pids, and no tombstones.

    Skew-safe like the build: the blocks re-blockify through its kernel
    (_blockify, hybrid feed) with n_salts from the CURRENT per-term
    posting counts (block metadata only), so appended segments count
    too. The salt is pmod(xxhash64(pid), n_salts), so both copies of a
    duplicated (term, pid) meet in one group and trip the kernel's
    sorted-adjacent guard.
    """
    from pyspark.sql import SparkSession

    ss = SparkSession.getActiveSession()
    blocks = catalog.read(ss, "postings")

    # per-term live posting counts from block metadata (source of truth
    # after appends, unlike the build-time df which IndexUpdater freezes)
    counts = blocks.groupBy("term_id").agg(
        F.sum("num_postings").alias("n_post")
    )
    idf_table = catalog.read(ss, "term_dict").select("term_id", "idf")
    dict_slice = idf_table.join(counts, "term_id").select(
        "term_id", _n_salts(F.col("n_post"), config))
    tombs = tombstone_bounds(catalog, ss)
    tomb = collect_tombstones([tombs])
    merged = _blockify(_hybrid_rows(blocks, dict_slice), avgdl, config,
                       idf_table=idf_table, tomb=tomb)
    with catalog.transaction():
        catalog.write(
            merged.repartition("bucket")
            .sortWithinPartitions("term_id", "block_id"),
            "postings", partition_by=["bucket"],
        )
        # doc_stats shrinks with the postings, or add()'s clash check
        # calls a physically gone doc "already live"
        if tombs is not None:
            catalog.write(drop_removed(catalog.read(ss, "doc_stats"), tombs),
                          "doc_stats")
        catalog.delete_table("tombstones")
        catalog.commit()
