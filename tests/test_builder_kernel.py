"""The one block-writing kernel (builder._make_block_kernel) and the
batched payload encoders must be BYTE-identical to the per-group
reference kernel / single-block encoders — on the flat feed and on the
hybrid feed (encoded source blocks + flat postings, tombstone fold) — so
the posting format stays a compatibility contract (CLAUDE.md r5d)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from colbert_spark.functions import codec
from colbert_spark.operators import builder


def _random_region(rng, n_groups, max_group=300):
    rows = []
    for g in range(n_groups):
        term_id = int(rng.integers(-(2 ** 62), 2 ** 62))
        salt = int(rng.integers(0, 5))
        size = int(rng.choice([1, 2, 127, 128, 129, 256,
                               int(rng.integers(1, max_group))]))
        pids = np.sort(rng.choice(2 ** 45, size=size, replace=False))
        tfs = rng.integers(1, 220, size)
        dls = rng.integers(1, 220, size)
        idf = float(rng.random() * 8)
        for p, t, d in zip(pids, tfs, dls):
            rows.append((term_id, salt, int(p), int(t), int(d), idf))
    df = pd.DataFrame(rows, columns=["term_id", "salt", "pid", "tf",
                                     "doclen", "idf"])
    return df.sort_values(["term_id", "salt", "pid"]).reset_index(drop=True)


def _run_old_kernel(pdf, block_size, avgdl, k1, b):
    old = builder._make_block_builder(block_size, avgdl, k1, b)
    outs = []
    for (_, _), grp in pdf.groupby(["term_id", "salt"], sort=True):
        outs.append(old(grp.reset_index(drop=True)))
    return pd.concat(outs, ignore_index=True)


def _batches(pdf, batch_split):
    if batch_split is None:
        return [pdf]
    return [pdf.iloc[i:i + batch_split].reset_index(drop=True)
            for i in range(0, len(pdf), batch_split)]


def _assert_same_blocks(got, want):
    key = ["term_id", "block_id"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    for col in ["term_id", "block_id", "first_pid", "last_pid",
                "num_postings", "enc_bytes"]:
        assert (got[col].to_numpy().astype(np.int64)
                == want[col].to_numpy().astype(np.int64)).all(), col
    assert np.allclose(got["max_block_score"], want["max_block_score"],
                       rtol=0, atol=0)
    for col in ["pids", "tfs", "dls"]:
        assert all(bytes(x) == bytes(y)
                   for x, y in zip(got[col], want[col])), col


def _run_kernel(batches, bs, avgdl, k1, b, tomb=None):
    kern = builder._make_block_kernel(bs, avgdl, k1, b, tomb)
    outs = list(kern(iter(batches)))
    return pd.concat(outs, ignore_index=True) if outs else None


@pytest.mark.parametrize("seed,batch_split", [(1, None), (2, 7), (3, 128),
                                              (4, 1000)])
def test_partition_kernel_matches_per_group_kernel(seed, batch_split):
    rng = np.random.default_rng(seed)
    pdf = _random_region(rng, n_groups=12)
    avgdl, k1, b, bs = 45.7, 1.2, 0.75, 128
    got = _run_kernel(_batches(pdf, batch_split), bs, avgdl, k1, b)
    _assert_same_blocks(got, _run_old_kernel(pdf, bs, avgdl, k1, b))


# -- hybrid feed: encoded source blocks + flat postings + tombstones -------

READD_EPOCH = 1 << 20


def _hybrid_feed(rng, n_groups, encoded_frac):
    """Random groups as the hybrid feed sorts them (term_id, salt, pid;
    encoded rows carry pid -1) plus the flat postings they hold, with
    epochs. Each group's postings come in source blocks of epoch 0; some
    pids also appear again in a re-add block of epoch READD_EPOCH (new
    tf), so without the tombstone fold they are duplicates."""
    rows, flat = [], []
    readded = []
    for _ in range(n_groups):
        term_id = int(rng.integers(-(2 ** 62), 2 ** 62))
        salt = int(rng.integers(0, 5))
        idf = float(rng.random() * 8)
        size = int(rng.choice([1, 2, 16, 17, int(rng.integers(1, 120))]))
        pids = np.sort(rng.choice(2 ** 40, size=size, replace=False))
        again = pids[rng.random(size) < 0.1]
        readded.extend(again.tolist())
        sources = [(0, pids), (READD_EPOCH, again)]
        for epoch, src in sources:
            tfs = rng.integers(1, 220, src.size)
            dls = rng.integers(1, 220, src.size)
            flat += [(term_id, salt, int(p), int(t), int(d), idf, epoch)
                     for p, t, d in zip(src, tfs, dls)]
            cut = 0
            while cut < src.size:
                n = int(rng.integers(1, 40))
                sl = slice(cut, cut + n)
                cut += n
                if rng.random() < encoded_frac:
                    rows.append((term_id, salt, -1, -1, -1, idf, epoch,
                                 codec.encode_pids_auto(src[sl]),
                                 codec.encode_tfs_auto(tfs[sl]),
                                 codec.encode_tfs_auto(dls[sl])))
                else:
                    rows += [(term_id, salt, int(p), int(t), int(d), idf,
                              epoch, None, None, None)
                             for p, t, d in zip(src[sl], tfs[sl], dls[sl])]
    cols = ["term_id", "salt", "pid", "tf", "doclen", "idf", "epoch"]
    feed = pd.DataFrame(rows, columns=cols + ["pids", "tfs", "dls"])
    feed = feed.sort_values(["term_id", "salt", "pid"], kind="stable") \
        .reset_index(drop=True)
    return feed, pd.DataFrame(flat, columns=cols), np.array(readded)


def _tomb(pids, befores):
    order = np.argsort(pids)
    return (np.asarray(pids, np.int64)[order],
            np.asarray(befores, np.int64)[order])


def _reference(flat, tomb, bs, avgdl, k1, b):
    """Per-group reference over the decoded LIVE postings: a posting
    drops when its pid is tombstoned and its epoch < the bound."""
    bound = dict(zip(tomb[0].tolist(), tomb[1].tolist())) if tomb else {}
    dead = np.array([p in bound and e < bound[p]
                     for p, e in zip(flat["pid"], flat["epoch"])], bool)
    live = flat[~dead]
    return _run_old_kernel(live, bs, avgdl, k1, b) if len(live) else None


@pytest.mark.parametrize("seed,encoded_frac,batch_split", [
    (11, 1.0, None), (12, 0.5, None), (13, 0.5, 1), (14, 0.5, 5),
    (15, 0.0, 3), (16, 0.8, 64),
])
def test_block_kernel_hybrid_feed_matches_per_group_kernel(
        seed, encoded_frac, batch_split):
    rng = np.random.default_rng(seed)
    feed, flat, readded = _hybrid_feed(rng, 15, encoded_frac)
    avgdl, k1, b, bs = 37.3, 1.2, 0.75, 16
    # epoch-bounded tombstones: re-added pids lose only their epoch-0
    # postings; plain removals (bound above every epoch) lose all
    removed = rng.choice(flat["pid"].unique(), 20, replace=False)
    removed = removed[~np.isin(removed, readded)]
    tomb = _tomb(np.concatenate([readded, removed]),
                 [READD_EPOCH] * readded.size + [1 << 62] * removed.size)
    got = _run_kernel(_batches(feed, batch_split), bs, avgdl, k1, b, tomb)
    _assert_same_blocks(got, _reference(flat, tomb, bs, avgdl, k1, b))
    # a re-added pid keeps exactly its new-epoch posting
    if readded.size:
        hits = sum(int(readded[0]) in set(codec.decode_pids_auto(bytes(x)))
                   for x in got["pids"])
        assert hits == (flat["pid"] == readded[0]).sum() - 1


@pytest.mark.parametrize("batch_split", [None, 2])
def test_block_kernel_drops_fully_tombstoned_group(batch_split):
    rng = np.random.default_rng(21)
    feed, flat, readded = _hybrid_feed(rng, 6, 0.5)
    avgdl, k1, b, bs = 37.3, 1.2, 0.75, 16
    gone = int(feed["term_id"].iloc[len(feed) // 2])
    bound = dict.fromkeys(readded.tolist(), READD_EPOCH)
    bound.update(dict.fromkeys(
        flat.loc[flat["term_id"] == gone, "pid"].tolist(), 1 << 62))
    tomb = _tomb(list(bound), list(bound.values()))
    got = _run_kernel(_batches(feed, batch_split), bs, avgdl, k1, b, tomb)
    assert gone not in set(got["term_id"])
    _assert_same_blocks(got, _reference(flat, tomb, bs, avgdl, k1, b))
    # and a feed whose every posting is tombstoned yields nothing
    everything = flat["pid"].unique()
    assert _run_kernel(_batches(feed, batch_split), bs, avgdl, k1, b,
                       _tomb(everything, [1 << 62] * everything.size)) \
        is None


@pytest.mark.parametrize("encoded_frac,batch_split", [
    (0.0, None), (1.0, None), (0.5, 1)])
def test_block_kernel_rejects_duplicate_pids(encoded_frac, batch_split):
    """Without the tombstone fold, a re-added pid's old and new postings
    are a duplicate (term, pid) — the kernel must refuse to write it."""
    rng = np.random.default_rng(31)
    feed, _, readded = _hybrid_feed(rng, 10, encoded_frac)
    assert readded.size
    with pytest.raises(ValueError, match="duplicate pids"):
        _run_kernel(_batches(feed, batch_split), 16, 37.3, 1.2, 0.75)


def test_batched_encoders_bit_identical():
    rng = np.random.default_rng(9)
    for trial in range(40):
        n_blocks = int(rng.integers(1, 20))
        counts = rng.integers(1, 200, n_blocks)
        starts = np.concatenate(([0], np.cumsum(counts)))[:-1]
        total = int(counts.sum())
        mag = int(rng.integers(1, 63))
        vals = rng.integers(0, 2 ** mag, total, dtype=np.uint64)
        got = codec.encode_u64_auto_batch(vals, starts, counts)
        want = [codec.encode_u64_auto(vals[s:s + c])
                for s, c in zip(starts, counts)]
        assert got == want
        # pid variant (strictly increasing within block)
        pid_blocks = [np.sort(rng.choice(2 ** 45, size=int(c),
                                         replace=False)).astype(np.int64)
                      for c in counts]
        pids = np.concatenate(pid_blocks)
        got_p = codec.encode_pids_auto_batch(pids, starts, counts)
        want_p = [codec.encode_pids_auto(b) for b in pid_blocks]
        assert got_p == want_p
        # and roundtrip through the tagged decoders
        for blob, ref in zip(got_p, pid_blocks):
            assert np.array_equal(codec.decode_pids_auto(blob), ref)


def test_batched_encoder_empty_and_zero_blocks():
    # gaps of single-pid blocks are empty; all-zero runs use the
    # width-0 bitpack header path
    vals = np.zeros(20, dtype=np.uint64)
    counts = np.array([0, 20, 0])
    starts = np.array([0, 0, 20])
    got = codec.encode_u64_auto_batch(vals, starts, counts)
    want = [codec.encode_u64_auto(np.empty(0, dtype=np.uint64)),
            codec.encode_u64_auto(vals),
            codec.encode_u64_auto(np.empty(0, dtype=np.uint64))]
    assert got == want
