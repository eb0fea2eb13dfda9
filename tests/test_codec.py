import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from colbert_spark.functions.codec import (
    decode_pids_auto,
    decode_tfs_auto,
    encode_pids_auto,
    encode_tfs_auto,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip_basic():
    vals = np.array([0, 1, 127, 128, 300, 16383, 16384, 2**32, 2**63 - 1],
                    dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(vals)), vals)


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_varint_single_byte_values():
    vals = np.arange(128, dtype=np.uint64)
    enc = varint_encode(vals)
    assert len(enc) == 128  # all fit in one byte
    assert np.array_equal(varint_decode(enc), vals)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
def test_varint_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(vals)), vals)


def test_tf_roundtrip():
    tfs = np.array([1, 1, 2, 7, 1000, 1], dtype=np.int64)
    assert np.array_equal(decode_tfs_auto(encode_tfs_auto(tfs)), tfs)


def test_compression_wins_on_dense_lists():
    # dense pid runs → small gaps; 8-byte int64 → ≥8x smaller
    pids = np.arange(0, 100_000, 3, dtype=np.int64)
    enc = encode_pids_auto(pids)
    assert np.array_equal(decode_pids_auto(enc), pids)
    assert len(enc) < pids.nbytes / 7


# --- fixed-width bit-packing (FOR) ---------------------------------------

from colbert_spark.functions.codec import (  # noqa: E402
    bitpack_decode,
    bitpack_encode,
)


def test_bitpack_roundtrip_basic():
    vals = np.array([0, 1, 127, 128, 300, 2**32, 2**63, 2**64 - 1],
                    dtype=np.uint64)
    assert np.array_equal(bitpack_decode(bitpack_encode(vals)), vals)


def test_bitpack_empty_and_zero_width():
    assert bitpack_decode(bitpack_encode(np.array([], dtype=np.uint64))).size == 0
    z = np.zeros(33, dtype=np.uint64)
    enc = bitpack_encode(z)
    assert len(enc) == 9                       # header-only all-zero run
    assert np.array_equal(bitpack_decode(enc), z)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
@settings(max_examples=60, deadline=None)
def test_bitpack_roundtrip_property(xs):
    arr = np.array(xs, dtype=np.uint64)
    assert np.array_equal(bitpack_decode(bitpack_encode(arr)), arr)


def test_bitpack_beats_varint_on_dense_lists():
    """FOR's win case — dense head-term lists (gaps 1-4, exactly the
    lists that dominate decode time): ~2-3 bits/value vs varint's fixed
    8. On tailed gap distributions flat FOR loses (one outlier widens
    every lane — the reason PFOR patches exceptions); the codec docstring
    records the trade-off."""
    rng = np.random.default_rng(3)
    gaps = rng.integers(1, 5, 20_000).astype(np.uint64)
    packed, vb = len(bitpack_encode(gaps)), len(varint_encode(gaps))
    assert packed < vb / 2


# --- adaptive tagged codec ------------------------------------------------

def test_auto_picks_the_smaller_encoding():
    from colbert_spark.functions.codec import (
        TAG_BITPACK,
        TAG_VARINT,
        bitpack_encode,
        encode_u64_auto,
        varint_encode,
    )

    dense = np.full(1000, 3, dtype=np.uint64)          # 2-bit lanes win
    tailed = np.concatenate([np.ones(999, dtype=np.uint64),
                             np.array([2**40], dtype=np.uint64)])
    for vals in (dense, tailed):
        enc = encode_u64_auto(vals)
        vsz = len(varint_encode(vals))
        bsz = len(bitpack_encode(vals))
        assert len(enc) == 1 + min(vsz, bsz)
        assert enc[0] == (TAG_BITPACK if bsz < vsz else TAG_VARINT)
    assert encode_u64_auto(dense)[0] == TAG_BITPACK
    assert encode_u64_auto(tailed)[0] == TAG_VARINT   # outlier widens FOR


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=200))
def test_auto_roundtrip_property(xs):
    from colbert_spark.functions.codec import decode_u64_auto, encode_u64_auto

    vals = np.array(xs, dtype=np.uint64)
    assert np.array_equal(decode_u64_auto(encode_u64_auto(vals)), vals)


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=10**12), max_size=300))
def test_auto_pid_roundtrip(pids):
    from colbert_spark.functions.codec import decode_pids_auto, encode_pids_auto

    arr = np.sort(np.array(sorted(pids), dtype=np.int64))
    assert np.array_equal(decode_pids_auto(encode_pids_auto(arr)), arr)


def test_auto_rejects_unsorted_and_unknown_tag():
    from colbert_spark.functions.codec import decode_u64_auto, encode_pids_auto

    with pytest.raises(ValueError):
        encode_pids_auto(np.array([5, 3, 9], dtype=np.int64))
    with pytest.raises(ValueError, match="codec tag"):
        decode_u64_auto(b"\x7fjunk")
