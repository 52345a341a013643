"""Posting-list codec: zigzag + delta + varint over numpy arrays.

The reference stores postings delta-encoded in blocks of 128 with
FOR/PFOR bit-packing and a vInt tail (Lucene postings format; SURVEY.md
§1.1). We keep the same *logical* layout — sorted docIds, delta-encoded,
128-doc blocks, per-block max-impact metadata — with plain LEB128 varint
as the byte code (simple, streaming-decodable, and fast to vectorize in
numpy). Compression ratio on synthetic corpora: ~2-5x vs raw int64.

All encoders take/return numpy arrays; nothing here touches Spark.
``decode_blocks`` is the one decoder of stored posting blocks: every
reader (the per-segment scorers, compaction) goes through it. The
per-block ``varint_decode`` / ``delta_decode_sorted`` /
``decode_positions`` are the encoders' exact inverses and its test
reference.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def zigzag_encode(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=np.int64)
    return (v.astype(np.uint64) << np.uint64(1)) ^ (v >> np.int64(63)).astype(np.uint64)


def zigzag_decode(u: np.ndarray) -> np.ndarray:
    u = np.asarray(u, dtype=np.uint64)
    return ((u >> np.uint64(1)) ^ (-(u & np.uint64(1)).astype(np.int64)).astype(np.uint64)).astype(
        np.int64
    )


def varint_encode_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array; also return per-value byte lengths so
    callers can slice the stream at value boundaries (block packing)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    return _varint_encode_arr(v)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array (vectorized: builds all bytes at once)."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    return _varint_encode_arr(v)[0]


def _varint_encode_arr(v: np.ndarray) -> tuple[bytes, np.ndarray]:
    # number of 7-bit groups per value (at least 1)
    nbits = np.zeros(v.shape, dtype=np.int64)
    nz = v > 0
    nbits[nz] = np.floor(np.log2(v[nz].astype(np.float64))).astype(np.int64) + 1
    # float64 log2 may round up for values near 2^64; correct by check
    pow_ok = nbits > 0
    if pow_ok.any():
        over = np.zeros(v.shape, dtype=bool)
        safe = nbits < 64
        over[safe & nz] = v[safe & nz] < (np.uint64(1) << nbits[safe & nz].astype(np.uint64) - np.uint64(1))
        nbits[over] -= 1
    ngroups = np.maximum((nbits + 6) // 7, 1)
    total = int(ngroups.sum())
    out = np.empty(total, dtype=np.uint8)
    # byte position of each value's first byte
    starts = np.concatenate(([0], np.cumsum(ngroups)[:-1]))
    # fill group-by-group: group g holds bits [7g, 7g+7) for values with ngroups > g
    max_g = int(ngroups.max())
    for g in range(max_g):
        mask = ngroups > g
        idx = starts[mask] + g
        chunk = (v[mask] >> np.uint64(7 * g)).astype(np.uint64) & np.uint64(0x7F)
        cont = (ngroups[mask] > g + 1).astype(np.uint8) << np.uint8(7)
        out[idx] = chunk.astype(np.uint8) | cont
    return out.tobytes(), ngroups


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode LEB128 bytes -> uint64 array (fully vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    # value id for each byte = number of terminated values before it
    value_id = np.concatenate(([0], np.cumsum(is_last)[:-1]))
    n_values = int(is_last.sum())
    # position of each byte within its value
    starts_mask = np.concatenate(([True], is_last[:-1]))
    byte_index = np.arange(b.size) - np.maximum.accumulate(
        np.where(starts_mask, np.arange(b.size), -1)
    )
    vals = np.zeros(n_values, dtype=np.uint64)
    np.add.at(
        vals,
        value_id,
        (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * byte_index.astype(np.uint64)),
    )
    if count is not None and n_values != count:
        raise ValueError(f"varint stream: expected {count} values, got {n_values}")
    return vals


def delta_encode_sorted(ids: np.ndarray) -> bytes:
    """Sorted int64 ids -> zigzag(first) + uint deltas, varint-packed.

    Deltas are computed modulo 2^64 (ids may span the full int64 range, so
    an int64 diff can overflow; the unsigned wraparound value is exact).
    """
    ids = np.asarray(ids, dtype=np.int64)
    if ids.size == 0:
        return b""
    if ids.size > 1 and (ids[1:] < ids[:-1]).any():
        raise ValueError("ids must be sorted ascending")
    u = np.empty(ids.size, dtype=np.uint64)
    u[0] = zigzag_encode(ids[:1])[0]
    if ids.size > 1:
        iu = ids.view(np.uint64)
        u[1:] = iu[1:] - iu[:-1]  # modular: exact unsigned delta
    return varint_encode(u)


def delta_decode_sorted(buf: bytes, count: int | None = None) -> np.ndarray:
    u = varint_decode(buf, count)
    if u.size == 0:
        return np.empty(0, dtype=np.int64)
    out = u.copy()
    out[0] = zigzag_decode(u[:1])[0].astype(np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        return np.cumsum(out).view(np.int64)  # modular cumsum undoes deltas


def encode_positions(positions_concat: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode per-doc position lists (already concatenated in doc order).

    ``positions_concat`` is the concatenation of each doc's ascending
    position array; ``tfs`` gives each doc's count. Per doc we store
    first-position then gaps, all as varints, so decode just needs tfs.
    """
    pos = np.asarray(positions_concat, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    if pos.size == 0:
        return b""
    gaps = np.empty(pos.size, dtype=np.int64)
    gaps[0] = pos[0]
    gaps[1:] = pos[1:] - pos[:-1]
    # reset at each doc boundary: first position of each doc stored raw
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    gaps[starts] = pos[starts]
    if (gaps < 0).any():
        raise ValueError("positions must be ascending within each doc")
    return varint_encode(gaps.astype(np.uint64))


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of encode_positions -> concatenated absolute positions."""
    tfs = np.asarray(tfs, dtype=np.int64)
    total = int(tfs.sum())
    gaps = varint_decode(buf, total).astype(np.int64)
    if total == 0:
        return gaps
    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
    # segmented cumsum: cumsum, then subtract the running offset before each doc
    csum = np.cumsum(gaps)
    seg_base = np.zeros(total, dtype=np.int64)
    seg_base[starts[1:]] = csum[starts[1:] - 1]
    seg_base = np.maximum.accumulate(seg_base)
    return csum - seg_base


def ragged_arange(lens: np.ndarray) -> np.ndarray:
    """[3,1,2] -> [0,1,2, 0, 0,1] (vectorized)."""
    lens = np.asarray(lens, dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return np.arange(total, dtype=np.int64) - np.repeat(starts, lens)


def _concat(streams):
    if isinstance(streams, (bytes, bytearray, memoryview)) or (
            isinstance(streams, np.ndarray) and streams.dtype == np.uint8):
        return streams
    return b"".join(streams)


_LOW7 = np.uint64(0x7F7F7F7F7F7F7F7F)
_SWAR = ((np.uint64(0x007F007F007F007F), np.uint64(0x7F007F007F007F00), np.uint64(1)),
         (np.uint64(0x00003FFF00003FFF), np.uint64(0x3FFF00003FFF0000), np.uint64(2)),
         (np.uint64(0x000000000FFFFFFF), np.uint64(0x0FFFFFFF00000000), np.uint64(4)))


def _varint_values(buf, count: int) -> np.ndarray:
    """LEB128 stream -> ``count`` uint64 values. A one-byte value is its
    byte; a longer value's first 8 bytes are read as one little-endian
    word whose 7-bit groups are packed together in three shift-and-mask
    steps, and a 9th and 10th byte add the top bits."""
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero(b < 0x80)
    if ends.size != count or (b.size and b[-1] >= 0x80):
        raise ValueError(f"varint stream: expected {count} values, got {ends.size}")
    if ends.size == b.size:
        return b.astype(np.uint64)
    starts = np.concatenate(([0], ends[:-1] + 1))
    out = b[starts].astype(np.uint64)
    multi = np.flatnonzero(ends > starts)
    starts, lens = starts[multi], (ends - starts + 1)[multi]
    pad = np.zeros(b.size + 10, np.uint8)
    pad[:b.size] = b
    v = np.lib.stride_tricks.as_strided(pad, (b.size, 8), (1, 1))[starts].view("<u8").ravel()
    v &= _LOW7
    for lo, hi, shift in _SWAR:
        v = (v & lo) | ((v & hi) >> shift)
    v &= (np.uint64(1) << np.uint64(7) * np.minimum(lens, 8).astype(np.uint64)) - np.uint64(1)
    for g in (8, 9):
        i = np.flatnonzero(lens > g)
        v[i] |= (pad[starts[i] + g].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * g)
    out[multi] = v
    return out


def decode_blocks(n_docs, doc_bytes, tf_bytes, norm_bytes, pos_bytes=None):
    """Decode any set of posting-block rows: one varint pass per stream.

    ``n_docs`` holds each row's doc count. Each ``*_bytes`` argument is
    the rows' byte strings (a sequence) or those strings already joined
    in row order (bytes, or a uint8 array). Returns flat arrays in row order ``(docs int64, tfs
    int64, norm bytes uint8, positions int64 | None)``: each row's docs
    ascending (zigzag first-of-block plus modular deltas), each doc's
    positions absolute. Per-block and per-doc resets are grouped-cumsum
    arithmetic — no Python loop over rows."""
    n = np.asarray(n_docs, dtype=np.int64)
    total = int(n.sum())
    u = _varint_values(_concat(doc_bytes), total)
    first = (np.cumsum(n) - n)[n > 0]
    u[first] = zigzag_decode(u[first]).view(np.uint64)
    c = np.cumsum(u)  # uint64: wraps modulo 2^64 like the encoder's deltas
    base = c[first] - u[first]
    docs = (c - np.repeat(base, n[n > 0])).view(np.int64)
    tfs = _varint_values(_concat(tf_bytes), total).astype(np.int64)
    norms = np.frombuffer(_concat(norm_bytes), dtype=np.uint8)
    if norms.size != total:
        raise ValueError(f"norm stream: expected {total} bytes, got {norms.size}")
    if pos_bytes is None:
        return docs, tfs, norms, None
    return docs, tfs, norms, decode_block_positions(pos_bytes, tfs)


def decode_block_positions(pos_bytes, tfs) -> np.ndarray:
    """The ``pos_bytes`` of posting-block rows (joined or not, as in
    ``decode_blocks``) -> every doc's absolute positions, concatenated;
    ``tfs`` holds the rows' decoded term frequencies."""
    gaps = _varint_values(_concat(pos_bytes), int(tfs.sum())).astype(np.int64)
    cp = np.concatenate(([0], np.cumsum(gaps)))
    return cp[1:] - np.repeat(cp[np.cumsum(tfs) - tfs], tfs)
