import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from edgesearch_spark.codec import (
    PostingBlocks,
    decode_all,
    decode_block,
    decode_varint,
    encode_postings,
    encode_varint,
)


def test_varint_roundtrip_basic():
    vals = np.array([0, 1, 127, 128, 300, 2**21, 2**32 - 1, 2**63], dtype=np.uint64)
    assert (decode_varint(encode_varint(vals)) == vals).all()


def test_varint_empty():
    assert encode_varint(np.empty(0, np.uint64)) == b""
    assert decode_varint(b"").size == 0


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
@settings(max_examples=50, deadline=None)
def test_varint_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.uint64)
    assert (decode_varint(encode_varint(vals)) == vals).all()


def _mk(docs, tfs=None, w=None, block_size=4):
    docs = np.array(docs, dtype=np.int64)
    tfs = np.array(tfs if tfs is not None else np.ones(len(docs)), dtype=np.int64)
    w = np.array(w if w is not None else np.zeros(len(docs)), dtype=np.float32)
    return encode_postings(docs, tfs, w, block_size=block_size)


def test_postings_roundtrip():
    docs = [0, 1, 5, 100, 101, 102, 4_000_000_000]
    tfs = [1, 3, 2, 9, 1, 1, 7]
    pb = _mk(docs, tfs, block_size=3)
    d, t = decode_all(pb)
    assert d.tolist() == docs
    assert t.tolist() == tfs
    assert pb.n_blocks == 3
    assert pb.max_doc.tolist() == [5, 102, 4_000_000_000]
    assert pb.counts.tolist() == [3, 3, 1]


def test_postings_blockmax():
    pb = encode_postings(
        np.array([1, 2, 3, 4], np.int64),
        np.array([1, 1, 1, 1], np.int64),
        np.array([0.1, 0.9, 0.2, 0.5], np.float32),
        block_size=2,
    )
    assert pb.max_weight.tolist() == pytest.approx([0.9, 0.5])


def test_postings_rejects_unsorted():
    with pytest.raises(ValueError):
        _mk([3, 2, 1])


def test_decode_single_block():
    pb = _mk([10, 20, 30, 40, 50], [1, 2, 3, 4, 5], block_size=2)
    d, t = decode_block(pb, 1)
    assert d.tolist() == [30, 40]
    assert t.tolist() == [3, 4]


@given(
    st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=400, unique=True),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=30, deadline=None)
def test_postings_roundtrip_property(docs, bs):
    docs = sorted(docs)
    tfs = [(d % 17) + 1 for d in docs]
    pb = _mk(docs, tfs, block_size=bs)
    d, t = decode_all(pb)
    assert d.tolist() == docs
    assert t.tolist() == tfs


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=0, max_size=300, unique=True),
        min_size=1,
        max_size=30,
    ),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=30, deadline=None)
def test_batch_encoder_identical_to_per_row(rows, bs):
    from edgesearch_spark.codec import encode_postings_batch

    docs_list = [np.array(sorted(r), dtype=np.int64) for r in rows]
    tfs_list = [(d % 17 + 1).astype(np.int64) for d in docs_list]
    ws_list = [((d % 7 + 1) / 10.0).astype(np.float32) for d in docs_list]
    batch = encode_postings_batch(docs_list, tfs_list, ws_list, block_size=bs)
    for d, t, w, pb in zip(docs_list, tfs_list, ws_list, batch):
        ref = encode_postings(d, t, w, block_size=bs)
        assert pb.payload == ref.payload
        assert pb.max_doc.tolist() == ref.max_doc.tolist()
        assert pb.counts.tolist() == ref.counts.tolist()
        assert pb.offsets.tolist() == ref.offsets.tolist()
        assert pb.max_weight.tolist() == pytest.approx(ref.max_weight.tolist())


def test_batch_encoder_rejects_unsorted_rows():
    from edgesearch_spark.codec import encode_postings_batch

    with pytest.raises(ValueError):
        encode_postings_batch(
            [np.array([5, 3], np.int64)], [np.array([1, 1], np.int64)], [np.zeros(2, np.float32)]
        )


# ---- adaptive containers (run/bitset/const-tf), reference parity:
# src/build/mod.rs:108-109 run-optimizes every bitmap; roaring.c container kinds ----

from edgesearch_spark.codec import DOC_BITSET, DOC_RUN, DOC_VARINT, KIND_CONST_TF, KIND_DOC_MASK


def test_dense_run_block_picks_run_and_roundtrips():
    docs = list(range(1000, 1128))  # one perfect run, const tf
    pb = _mk(docs, [3] * 128, block_size=128)
    assert pb.n_blocks == 1
    assert int(pb.kinds[0]) & KIND_DOC_MASK == DOC_RUN
    assert int(pb.kinds[0]) & KIND_CONST_TF
    assert len(pb.payload) <= 4  # ~0.25 bits/posting vs ~256 B under delta+varint
    d, t = decode_all(pb)
    assert d.tolist() == docs and t.tolist() == [3] * 128


def test_dense_scattered_block_picks_bitset():
    docs = [i * 2 for i in range(128)]  # every other doc: span 255, no runs
    pb = _mk(docs, [1] * 128, block_size=128)
    assert int(pb.kinds[0]) & KIND_DOC_MASK == DOC_BITSET
    assert len(pb.payload) <= 33  # 32-byte bitmap + 1-byte const tf
    d, t = decode_all(pb)
    assert d.tolist() == docs and t.tolist() == [1] * 128
    d1, t1 = decode_block(pb, 0)
    assert d1.tolist() == docs and t1.tolist() == [1] * 128


def test_sparse_block_stays_varint():
    docs = [i * 100_000 for i in range(50)]
    pb = _mk(docs, [(i % 5) + 1 for i in range(50)], block_size=128)
    assert int(pb.kinds[0]) & KIND_DOC_MASK == DOC_VARINT
    d, t = decode_all(pb)
    assert d.tolist() == docs and t.tolist() == [(i % 5) + 1 for i in range(50)]


def test_mixed_kind_blocks_roundtrip():
    docs = (
        list(range(0, 128))                      # run
        + [200 + 2 * i for i in range(128)]      # bitset
        + [10_000 * i for i in range(1, 129)]    # varint
    )
    tfs = [1] * 128 + [(i % 7) + 1 for i in range(128)] + [2] * 128
    pb = _mk(docs, tfs, block_size=128)
    assert pb.n_blocks == 3
    kinds = [int(k) & KIND_DOC_MASK for k in pb.kinds]
    assert kinds == [DOC_RUN, DOC_BITSET, DOC_VARINT]
    d, t = decode_all(pb)
    assert d.tolist() == docs and t.tolist() == tfs
    for i in range(3):
        db, tb = decode_block(pb, i)
        assert db.tolist() == docs[i * 128 : (i + 1) * 128]
        assert tb.tolist() == tfs[i * 128 : (i + 1) * 128]


@given(
    st.lists(st.integers(min_value=0, max_value=400), min_size=1, max_size=600, unique=True),
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=1, max_value=3),
)
@settings(max_examples=60, deadline=None)
def test_dense_roundtrip_property(docs, bs, tfmod):
    """Dense ID space (0..400) forces run/bitset selection often; every kind
    mix must round-trip exactly, block-wise and whole-list."""
    docs = sorted(docs)
    tfs = [(d % (tfmod * 3)) % tfmod + 1 for d in docs]
    pb = _mk(docs, tfs, block_size=bs)
    d, t = decode_all(pb)
    assert d.tolist() == docs
    assert t.tolist() == tfs
    i = len(pb.counts) // 2
    db, tb = decode_block(pb, i)
    lo = int(np.cumsum(pb.counts)[i - 1]) if i else 0
    assert db.tolist() == docs[lo : lo + int(pb.counts[i])]
    assert tb.tolist() == tfs[lo : lo + int(pb.counts[i])]


def test_containers_at_large_docids():
    """Run/bitset selection and reconstruction at 10^12-scale docIDs (the
    metadata first_doc carries the absolute base; streams stay small)."""
    base = 10**12
    docs = list(range(base, base + 200)) + [base + 10_000 + 2 * i for i in range(100)]
    tfs = [1] * 200 + [3] * 100
    pb = _mk(docs, tfs, block_size=128)
    kinds = [int(k) & KIND_DOC_MASK for k in pb.kinds]
    assert DOC_RUN in kinds  # the consecutive range picked run containers
    d, t = decode_all(pb)
    assert d.tolist() == docs and t.tolist() == tfs
    for i in range(pb.n_blocks):
        lo = int(np.cumsum(pb.counts)[i - 1]) if i else 0
        db, tb = decode_block(pb, i)
        assert db.tolist() == docs[lo : lo + int(pb.counts[i])]


def test_postings_block_max_tf():
    """Per-block max raw tf rides beside max_weight (avgdl-free WAND bounds
    for multi-segment engines)."""
    pb = _mk([0, 1, 5, 100, 101, 102, 4_000_000_000], [1, 3, 2, 9, 1, 1, 7], block_size=3)
    assert pb.max_tf.tolist() == [3, 9, 7]
