import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from opensearch_spark.index import codec
from opensearch_spark.analysis import smallfloat


def test_varint_roundtrip_basic():
    vals = np.array([0, 1, 127, 128, 300, 2**32, 2**63, 2**64 - 1], dtype=np.uint64)
    buf = codec.varint_encode(vals)
    out = codec.varint_decode(buf, len(vals))
    assert (out == vals).all()


def test_varint_empty():
    assert codec.varint_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.varint_decode(b"").size == 0


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip_prop(xs):
    vals = np.array(xs, dtype=np.uint64)
    out = codec.varint_decode(codec.varint_encode(vals), len(vals))
    assert (out == vals).all()


@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=300))
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip_prop(xs):
    ids = np.array(sorted(xs), dtype=np.int64)
    out = codec.delta_decode_sorted(codec.delta_encode_sorted(ids), len(ids))
    assert (out == ids).all()


def test_delta_rejects_unsorted():
    with pytest.raises(ValueError):
        codec.delta_encode_sorted(np.array([5, 3], dtype=np.int64))


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=20),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=100, deadline=None)
def test_positions_roundtrip_prop(poslists):
    poslists = [sorted(p) for p in poslists]
    tfs = np.array([len(p) for p in poslists], dtype=np.int64)
    concat = np.array([x for p in poslists for x in p], dtype=np.int64)
    buf = codec.encode_positions(concat, tfs)
    out = codec.decode_positions(buf, tfs)
    assert (out == concat).all()


def _random_blocks(rng, n_docs, lo, hi, max_block):
    """Sorted unique docIds in [lo, hi] cut into blocks of 1..max_block
    docs, each doc with tf in 1..8 and ascending positions."""
    ids = np.unique(rng.integers(lo, hi, size=n_docs, dtype=np.int64, endpoint=True))
    cuts, i = [], 0
    while i < ids.size:
        cuts.append(i)
        i += int(rng.integers(1, max_block + 1))
    cuts.append(ids.size)
    blocks = []
    for a, b in zip(cuts[:-1], cuts[1:]):
        docs = ids[a:b]
        tfs = rng.integers(1, 9, size=docs.size).astype(np.int64)
        pos = np.concatenate([np.sort(rng.choice(10**5, size=t, replace=False)) for t in tfs])
        blocks.append({
            "n_docs": docs.size,
            "doc_bytes": codec.delta_encode_sorted(docs),
            "tf_bytes": codec.varint_encode(tfs.astype(np.uint64)),
            "norm_bytes": rng.integers(0, 256, size=docs.size).astype(np.uint8).tobytes(),
            "pos_bytes": codec.encode_positions(pos, tfs),
        })
    return blocks


def _reference(blocks):
    """Per-block decode with the encoders' exact inverses."""
    docs, tfs, norms, pos = [], [], [], []
    for b in blocks:
        d = codec.delta_decode_sorted(b["doc_bytes"], b["n_docs"])
        t = codec.varint_decode(b["tf_bytes"], b["n_docs"]).astype(np.int64)
        docs.append(d)
        tfs.append(t)
        norms.append(np.frombuffer(b["norm_bytes"], dtype=np.uint8))
        pos.append(codec.decode_positions(b["pos_bytes"], t))
    return [np.concatenate(x) for x in (docs, tfs, norms, pos)]


def _decode(blocks, positions=True):
    return codec.decode_blocks(
        [b["n_docs"] for b in blocks], [b["doc_bytes"] for b in blocks],
        [b["tf_bytes"] for b in blocks], [b["norm_bytes"] for b in blocks],
        [b["pos_bytes"] for b in blocks] if positions else None)


@pytest.mark.parametrize("seed", range(8))
@pytest.mark.parametrize("span", ["full_int64", "small"])
def test_decode_blocks_equals_per_block_decode(seed, span):
    rng = np.random.default_rng(seed)
    lo, hi = ((-(2**63), 2**63 - 1) if span == "full_int64" else (0, 5000))
    blocks = _random_blocks(rng, 600, lo, hi, max_block=int(rng.choice([1, 3, 128])))
    got = _decode(blocks)
    want = _reference(blocks)
    for g, w in zip(got, want):
        assert g.dtype == w.dtype and (g == w).all()
    # the same streams pre-joined in row order decode identically
    joined = codec.decode_blocks(
        [b["n_docs"] for b in blocks],
        *(b"".join(b[c] for b in blocks)
          for c in ("doc_bytes", "tf_bytes", "norm_bytes", "pos_bytes")))
    for g, w in zip(joined, want):
        assert (g == w).all()
    assert _decode(blocks, positions=False)[3] is None


def test_decode_blocks_single_doc_blocks_and_extremes():
    ids = np.array([-(2**63), -1, 0, 1, 2**63 - 1], dtype=np.int64)
    blocks = [{
        "n_docs": 1, "doc_bytes": codec.delta_encode_sorted(ids[i:i + 1]),
        "tf_bytes": codec.varint_encode(np.array([8], np.uint64)),
        "norm_bytes": bytes([i]),
        "pos_bytes": codec.encode_positions(np.arange(8), np.array([8])),
    } for i in range(ids.size)]
    docs, tfs, norms, pos = _decode(blocks)
    assert docs.tolist() == ids.tolist()
    assert tfs.tolist() == [8] * ids.size
    assert norms.tolist() == list(range(ids.size))
    assert pos.tolist() == list(range(8)) * ids.size


def test_decode_blocks_empty_and_truncated():
    docs, tfs, norms, pos = codec.decode_blocks([], [], [], [], [])
    assert docs.size == tfs.size == norms.size == pos.size == 0
    blk = codec.delta_encode_sorted(np.array([1, 2, 3]))
    with pytest.raises(ValueError):
        codec.decode_blocks([4], [blk], [codec.varint_encode(np.ones(4, np.uint64))],
                            [bytes(4)])
    with pytest.raises(ValueError):
        codec.decode_blocks([3], [blk[:-1] + b"\x80"],
                            [codec.varint_encode(np.ones(3, np.uint64))], [bytes(3)])


@pytest.mark.parametrize("seed", range(4))
def test_two_generations_merge_sorted_per_term(seed):
    """Blocks of two generations whose doc ranges overlap (an
    incremental batch), decoded together and merge-sorted per term,
    equal each term's postings decoded as one sorted run."""
    rng = np.random.default_rng(seed)
    for term in range(3):
        gen = [_random_blocks(rng, 300, -(2**62), 2**62, max_block=16) for _ in range(2)]
        old, new = _reference(gen[0]), _reference(gen[1])
        if np.intersect1d(old[0], new[0]).size:
            continue  # a doc lives in one generation only
        docs, tfs, norms, pos = codec.merge_generations(*_decode(gen[0] + gen[1]))
        order = np.argsort(np.concatenate((old[0], new[0])), kind="stable")
        assert (docs == np.concatenate((old[0], new[0]))[order]).all()
        assert (np.diff(docs) > 0).all()
        assert (tfs == np.concatenate((old[1], new[1]))[order]).all()
        assert (norms == np.concatenate((old[2], new[2]))[order]).all()
        # positions follow their docs
        by_doc = {}
        for d_arr, t_arr, p_arr in ((old[0], old[1], old[3]), (new[0], new[1], new[3])):
            starts = np.concatenate(([0], np.cumsum(t_arr)))
            for i, d in enumerate(d_arr.tolist()):
                by_doc[d] = p_arr[starts[i]:starts[i + 1]].tolist()
        assert pos.tolist() == [p for d in docs.tolist() for p in by_doc[d]]


def test_zigzag():
    v = np.array([0, -1, 1, -2, 2, -(2**62), 2**62], dtype=np.int64)
    assert (codec.zigzag_decode(codec.zigzag_encode(v)) == v).all()


# ---- SmallFloat ------------------------------------------------------------

def test_smallfloat_free_values_exact():
    for i in range(smallfloat.NUM_FREE_VALUES + 16):
        q = smallfloat.quantize_length(i)
        if i < 40:
            assert q == i, i


def test_smallfloat_monotonic_rounddown_idempotent():
    prev = -1
    for i in list(range(0, 5000)) + [10**4, 10**6, 2**31 - 1]:
        q = smallfloat.quantize_length(i)
        assert q <= i
        assert q >= prev
        prev_q = q
        assert smallfloat.quantize_length(q) == q  # representables are fixed points
        prev = q


def test_smallfloat_byte_range():
    assert smallfloat.int_to_byte4(2**31 - 1) == 255
    assert smallfloat.int_to_byte4(0) == 0
    table = smallfloat.length_table()
    assert len(table) == 256
    assert (np.diff(table) > 0).all()  # strictly increasing decode table


def test_smallfloat_vectorized_matches_scalar():
    xs = np.array(list(range(0, 3000)) + [2**20, 2**31 - 1], dtype=np.int64)
    enc = smallfloat.int_to_byte4_np(xs)
    for x, e in zip(xs.tolist(), enc.tolist()):
        assert e == smallfloat.int_to_byte4(x), x
    dec = smallfloat.decode_norms_np(enc)
    for x, d in zip(xs.tolist(), dec.tolist()):
        assert d == smallfloat.quantize_length(x), x
