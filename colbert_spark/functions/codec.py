"""Delta-gap posting-list codec with a per-block codec tag
(numpy-vectorized).

The lexical analog of the reference's residual codec
(colbert/indexing/codecs/residual.py:167-276: bucketize + packbits on
compress, LUT unpack on decompress). Here every posting payload is
TAGGED (CLAUDE.md r5d): sorted pids → varint(first pid) ++ the tagged
auto codec over the gaps between pids; tfs and doclens → the tagged auto
codec over the values. The tag byte picks, per block, the smaller of
LEB128 varint and frame-of-reference bit-packing. encode/decode are
exact inverses (mirrors the compress/decompress inverse-pair test
surface), and the batched encoders write payloads bit-identical to the
single-block ones.

All hot paths are numpy array ops — no per-element Python in encode
(decode uses a tight loop over the byte array via numpy cumulative tricks).
"""

from __future__ import annotations

import numpy as np


#: bit_length of each byte value — the vectorized-exact bitlength LUT
_BITS8 = np.array([(i).bit_length() for i in range(256)], dtype=np.int64)


def _bitlengths(v: np.ndarray) -> np.ndarray:
    """Exact per-value bit lengths of a uint64 array, fully vectorized
    (big-endian byte view → first nonzero byte + per-byte LUT — no
    data-dependent loop, no float log2 edge cases)."""
    if v.size == 0:
        return np.empty(0, dtype=np.int64)
    bts = v.astype(">u8").view(np.uint8).reshape(-1, 8)
    nz = bts != 0
    top = np.argmax(nz, axis=1)          # first (most significant) nonzero
    top_byte = bts[np.arange(v.size), top]
    out = (7 - top) * 8 + _BITS8[top_byte]
    out[~nz.any(axis=1)] = 0             # bit_length(0) = 0 (argmax lies)
    return out


def varint_encode(values: np.ndarray,
                  nbytes: np.ndarray | None = None) -> bytes:
    """LEB128-encode a uint64 array → bytes. One (n × max_len) byte
    matrix, continuation bits set columnwise, masked row-major flatten —
    no per-byte-position Python loop. `nbytes` (per-value encoded byte
    counts) may be passed in when the caller already computed it."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    if nbytes is None:
        nbytes = np.maximum((_bitlengths(v) + 6) // 7, 1)
    max_len = int(nbytes.max())
    shifts = (np.uint64(7) * np.arange(max_len, dtype=np.uint64))
    mat = ((v[:, None] >> shifts[None, :]) & np.uint64(0x7F)).astype(np.uint8)
    k = np.arange(max_len)
    valid = k[None, :] < nbytes[:, None]
    mat[k[None, :] < (nbytes - 1)[:, None]] |= 0x80  # continuation bits
    return mat[valid].tobytes()  # boolean fancy-index flattens row-major


def varint_decode(data: bytes) -> np.ndarray:
    """Inverse of varint_encode → uint64 array. Fast path: a stream with
    no continuation bits IS the value array. General path: per-value
    7-bit parts OR-folded with one reduceat (parts occupy disjoint bit
    ranges, so bitwise-or ≡ add without np.add.at's scatter cost)."""
    buf = np.frombuffer(data, dtype=np.uint8)
    if buf.size == 0:
        return np.empty(0, dtype=np.uint64)
    cont = (buf & 0x80) != 0
    if not cont.any():
        return buf.astype(np.uint64)
    ends = ~cont
    starts = np.concatenate(([True], ends[:-1]))
    start_idx = np.flatnonzero(starts)
    pos = np.arange(buf.size) - np.maximum.accumulate(
        np.where(starts, np.arange(buf.size), -1)
    )
    parts = (buf & 0x7F).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    return np.bitwise_or.reduceat(parts, start_idx)


# --- fixed-width bit-packing (FOR) — the SIMD-friendly alternative ------

def bitpack_encode(values: np.ndarray) -> bytes:
    """Frame-of-reference bit-packing: every value stored in exactly
    `width` bits, width = bitlength(max(values)) — the Lemire
    FastPFOR/Lucene `PackedInts` family's base layout, which trades
    varint's per-value byte granularity for constant-width lanes a
    vectorized decoder can unpack without data-dependent branches.

    Trade-off (measured, test_codec.py): flat FOR wins big on dense
    lists (head-term gaps 1-4 → 2-3 bits/value vs varint's 8) and loses
    on tailed gap distributions, where one outlier widens every lane —
    the failure PFOR patches with exceptions. The index picks between
    the two per block (encode_u64_auto's tag).

    Header: 1 byte width (0-64), 8 bytes count (LE). width 0 encodes an
    all-zeros run in the header alone. Pure numpy (bit scatter via
    unpackbits-style shifts), exact inverse of bitpack_decode.
    """
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return bytes([0]) + (0).to_bytes(8, "little")
    width = int(v.max()).bit_length()
    head = bytes([width]) + n.to_bytes(8, "little")
    if width == 0:
        return head
    # bit matrix: n rows × width bits (LSB first), then flatten → bytes
    shifts = np.arange(width, dtype=np.uint64)
    bits = ((v[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.uint8)
    flat = bits.reshape(-1)
    pad = (-flat.size) % 8
    if pad:
        flat = np.concatenate([flat, np.zeros(pad, dtype=np.uint8)])
    packed = np.packbits(flat.reshape(-1, 8), axis=1, bitorder="little")
    return head + packed.tobytes()


def bitpack_decode(data: bytes) -> np.ndarray:
    """Inverse of bitpack_encode → uint64 array."""
    width = data[0]
    n = int.from_bytes(data[1:9], "little")
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if width == 0:
        return np.zeros(n, dtype=np.uint64)
    buf = np.frombuffer(data, dtype=np.uint8, offset=9)
    flat = np.unpackbits(buf, bitorder="little")[: n * width]
    bits = flat.reshape(n, width).astype(np.uint64)
    shifts = np.arange(width, dtype=np.uint64)
    return (bits << shifts[None, :]).sum(axis=1, dtype=np.uint64)


# --- adaptive per-block codec (the PFOR rationale, realized) -------------
#
# Head-term blocks have dense small gaps where flat FOR stores 2-3 bits a
# value vs varint's 8; tailed gap distributions have outliers that widen
# every FOR lane, where varint wins. Instead of one global choice, each
# block's payload carries a 1-byte codec tag and the encoder picks
# whichever encoding is smaller FOR THAT BLOCK — both sizes are computed
# exactly (closed form) before encoding, so only the winner is built.
# Lucene makes the same per-block decision family in its postings format
# (FOR blocks + vInt tail); this is that idea over the repo's two codecs.

TAG_VARINT = 0
TAG_BITPACK = 1


def encode_u64_auto(values: np.ndarray) -> bytes:
    """1-byte tag + the smaller of {varint, FOR bitpack} for this array
    (tie → varint, the branch-free-decode-free default). The per-value
    bit lengths are computed once and shared between the size decision
    and the winning encoder."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return bytes([TAG_VARINT])
    nbytes = np.maximum((_bitlengths(v) + 6) // 7, 1)
    vs = int(nbytes.sum())
    bs = 9 + (v.size * int(v.max()).bit_length() + 7) // 8
    if bs < vs:
        return bytes([TAG_BITPACK]) + bitpack_encode(v)
    return bytes([TAG_VARINT]) + varint_encode(v, nbytes=nbytes)


def decode_u64_auto(data: bytes) -> np.ndarray:
    """Inverse of encode_u64_auto (dispatch on the tag byte)."""
    if len(data) == 0:
        return np.empty(0, dtype=np.uint64)
    tag = data[0]
    if tag == TAG_BITPACK:
        return bitpack_decode(data[1:])
    if tag == TAG_VARINT:
        return varint_decode(data[1:])
    raise ValueError(f"unknown codec tag {tag}")


def encode_pids_auto(pids: np.ndarray) -> bytes:
    """Sorted pids → varint(first_pid) ++ tagged auto codec over the
    gaps BETWEEN pids (pids must be strictly increasing).

    The absolute first pid is kept OUT of the FOR frame: it is O(corpus)
    while gaps are O(corpus/df), so folding it into the gap array would
    widen every bit-packed lane to its bit length and flat FOR would
    never win — the exception-value problem PFOR exists to solve,
    handled here by framing only the true gaps. The varint prefix is
    self-delimiting (first byte with a clear continuation bit), so no
    length header is needed."""
    p = np.asarray(pids, dtype=np.int64)
    if p.size == 0:
        return b""
    gaps = p[1:] - p[:-1]
    if (gaps <= 0).any():
        raise ValueError("pids must be strictly increasing")
    head = varint_encode(np.array([p[0]], dtype=np.uint64))
    return head + encode_u64_auto(gaps.astype(np.uint64))


def decode_pids_auto(data: bytes) -> np.ndarray:
    if len(data) == 0:
        return np.empty(0, dtype=np.int64)
    buf = np.frombuffer(data, dtype=np.uint8)
    end = int(np.flatnonzero((buf & 0x80) == 0)[0])  # varint self-delimits
    first = int(varint_decode(data[: end + 1])[0])
    gaps = decode_u64_auto(data[end + 1:]).astype(np.int64)
    return np.concatenate(([first], first + np.cumsum(gaps)))


# --- batched per-block encoding (r6) --------------------------------------
#
# The blockify kernel encodes three payloads per posting block; at ~15
# small-array numpy ops per encode call the per-call dispatch overhead
# dominated the whole build stage (measured: ~80% of kernel CPU). These
# batch variants produce BIT-IDENTICAL payloads for many blocks in one
# vectorized pass over the concatenated values (bit-identity is
# pytest-enforced against the single-block encoders).


def _bitpack_batch(v: np.ndarray, starts: np.ndarray, counts: np.ndarray,
                   widths: np.ndarray) -> list[bytes]:
    """Per-block FOR bitpack payloads (= [bitpack_encode(block) ...]) for
    non-empty blocks tiling `v`. widths = per-block bit widths (may be 0:
    all-zero run, header-only). One bit-scatter pass; per-block byte
    padding preserved exactly."""
    n_blocks = counts.size
    pay_bits = counts * widths
    padded = ((pay_bits + 7) // 8) * 8
    bit_off = np.concatenate(([0], np.cumsum(padded)))
    total = int(bit_off[-1])
    heads = [bytes([int(w)]) + int(c).to_bytes(8, "little")
             for w, c in zip(widths, counts)]
    if total == 0:
        return heads
    rep = np.repeat(np.arange(n_blocks), counts)
    idx_in_block = np.arange(v.size) - np.repeat(starts, counts)
    base = bit_off[rep] + idx_in_block * widths[rep]
    arr = np.zeros(total, dtype=np.uint8)
    w_rep = widths[rep]
    for j in range(int(widths.max())):
        m = w_rep > j
        arr[base[m] + j] = ((v[m] >> np.uint64(j)) & np.uint64(1)).astype(
            np.uint8)
    packed = np.packbits(arr.reshape(-1, 8), axis=1, bitorder="little") \
        .reshape(-1)
    byte_off = (bit_off // 8).astype(np.int64)
    return [
        heads[i] + packed[byte_off[i]:byte_off[i + 1]].tobytes()
        for i in range(n_blocks)
    ]


def encode_u64_auto_batch(v: np.ndarray, starts: np.ndarray,
                          counts: np.ndarray) -> list[bytes]:
    """[encode_u64_auto(v[s:s+c]) for (s, c) in zip(starts, counts)] in
    one vectorized pass. Blocks must tile `v` in order (empty blocks
    allowed). Bit-identical to the single-block encoder by construction:
    the per-block codec decision uses the same exact sizes, varint bytes
    are value-independent (slices of one stream), bitpack framing is
    reproduced per block."""
    v = np.asarray(v, dtype=np.uint64)
    n_blocks = counts.size
    out: list[bytes | None] = [None] * n_blocks
    nonempty = counts > 0
    for i in np.flatnonzero(~nonempty):
        out[i] = bytes([TAG_VARINT])
    if v.size == 0:
        return out
    ends = starts + counts
    nb = np.maximum((_bitlengths(v) + 6) // 7, 1)
    cs = np.concatenate(([0], np.cumsum(nb)))
    vs_b = cs[ends] - cs[starts]                      # per-block varint size
    ne_starts = starts[nonempty]
    mx = np.maximum.reduceat(v, ne_starts)
    width = np.zeros(n_blocks, dtype=np.int64)
    width[nonempty] = _bitlengths(mx)
    bs_b = 9 + (counts * width + 7) // 8
    use_bp = nonempty & (bs_b < vs_b)
    use_vi = nonempty & ~use_bp
    # one varint stream over the varint-chosen blocks' values
    if use_vi.any():
        keep = np.repeat(use_vi[nonempty], counts[nonempty])
        stream = np.frombuffer(varint_encode(v[keep], nbytes=nb[keep]),
                               dtype=np.uint8)
        off = np.concatenate(([0], np.cumsum(vs_b[use_vi])))
        for k, i in enumerate(np.flatnonzero(use_vi)):
            out[i] = bytes([TAG_VARINT]) + \
                stream[off[k]:off[k + 1]].tobytes()
    if use_bp.any():
        keep = np.repeat(use_bp[nonempty], counts[nonempty])
        vv = v[keep]
        cnt = counts[use_bp]
        st = np.concatenate(([0], np.cumsum(cnt)))[:-1]
        payloads = _bitpack_batch(vv, st, cnt, width[use_bp])
        for k, i in enumerate(np.flatnonzero(use_bp)):
            out[i] = bytes([TAG_BITPACK]) + payloads[k]
    return out


def encode_pids_auto_batch(pids: np.ndarray, starts: np.ndarray,
                           counts: np.ndarray) -> list[bytes]:
    """[encode_pids_auto(pids[s:s+c]) ...] in one vectorized pass: heads
    are one varint stream over the block-first pids; gap arrays (counts−1
    values per block) share one auto-codec batch."""
    p = np.asarray(pids, dtype=np.int64)
    n_blocks = counts.size
    if n_blocks == 0:
        return []
    if (counts <= 0).any():
        raise ValueError("encode_pids_auto_batch: empty block")
    ends = starts + counts
    firsts = p[starts].astype(np.uint64)
    nb_h = np.maximum((_bitlengths(firsts) + 6) // 7, 1)
    head_stream = np.frombuffer(varint_encode(firsts, nbytes=nb_h),
                                dtype=np.uint8)
    h_off = np.concatenate(([0], np.cumsum(nb_h)))
    d = p[1:] - p[:-1] if p.size > 1 else np.empty(0, dtype=np.int64)
    gap_keep = np.ones(d.size, dtype=bool)
    gap_keep[starts[1:] - 1] = False          # boundary diffs are not gaps
    gaps = d[gap_keep]
    if (gaps <= 0).any():
        raise ValueError("pids must be strictly increasing")
    g_counts = counts - 1
    g_starts = np.concatenate(([0], np.cumsum(g_counts)))[:-1]
    bodies = encode_u64_auto_batch(gaps.astype(np.uint64), g_starts,
                                   g_counts)
    return [
        head_stream[h_off[i]:h_off[i + 1]].tobytes() + bodies[i]
        for i in range(n_blocks)
    ]


def encode_tfs_auto(tfs: np.ndarray) -> bytes:
    return encode_u64_auto(np.asarray(tfs, dtype=np.uint64))


def decode_tfs_auto(data: bytes) -> np.ndarray:
    return decode_u64_auto(data).astype(np.int64)
