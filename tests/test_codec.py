"""Property tests for the delta-gap + varint posting codec (FIXTURES.md §3)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from bzzz_spark.build.codec import (
    decode_block,
    decode_varints,
    encode_block,
    encode_varints,
)


@given(
    st.lists(st.integers(min_value=0, max_value=2**62), min_size=0, max_size=500)
)
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.int64)
    assert decode_varints(encode_varints(arr)).tolist() == values


def test_varint_boundaries():
    # every 7-bit group boundary
    vals = [0, 1, 127, 128, 16383, 16384, 2**21 - 1, 2**21, 2**62]
    arr = np.array(vals, dtype=np.int64)
    assert decode_varints(encode_varints(arr), len(vals)).tolist() == vals


def test_varint_single_byte_density():
    # gaps < 128 must cost exactly one byte each (the point of the codec)
    arr = np.arange(1, 101, dtype=np.int64)  # gaps all 1..100
    assert len(encode_varints(np.diff(arr))) == 99


@given(
    st.sets(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=300),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(docid_set, data):
    docids = np.array(sorted(docid_set), dtype=np.int64)
    tfs = np.array(
        data.draw(
            st.lists(
                st.integers(min_value=1, max_value=10**6),
                min_size=len(docids),
                max_size=len(docids),
            )
        ),
        dtype=np.int64,
    )
    first, count, gaps, tfb = encode_block(docids, tfs)
    d2, t2 = decode_block(first, count, gaps, tfb)
    assert d2.tolist() == docids.tolist()
    assert t2.tolist() == tfs.tolist()


def test_block_rejects_unsorted():
    import pytest

    with pytest.raises(ValueError):
        encode_block(np.array([5, 3]), np.array([1, 1]))


@given(
    st.lists(
        st.lists(
            st.tuples(st.integers(min_value=1, max_value=5000),
                      st.integers(min_value=0, max_value=5000)),
            min_size=1, max_size=40,
        ),
        min_size=1, max_size=5,
    ),
    st.integers(min_value=1, max_value=10**9),
    st.floats(min_value=0.5, max_value=1e4),
    st.data(),
)
@settings(max_examples=200, deadline=None)
def test_impact_bound_is_the_block_max_score(terms, n_docs, avgdl, data):
    """For any blocks (tf ≥ 1, dl ≥ 0 with 0 the norms-off sentinel)
    and any collection stats (N, avgdl, df), the bound the kernels read
    from the encoded impacts is the block's max score: no posting
    scores above it, and one scores exactly it.  The blocks come from
    the build's own encoder, 16 postings per block."""
    import pandas as pd

    from bzzz_spark.build.indexer import IndexConfig, _make_block_encoder
    from bzzz_spark.query.blocks import impacts_max_tfc
    from bzzz_spark.query.scoring import idf, tf_component_np

    pdf = pd.DataFrame(
        [(t, 0, d, tf, dl) for t, posts in enumerate(terms)
         for d, (tf, dl) in enumerate(posts)],
        columns=["term_id", "segment", "docid", "tf", "dl"],
    )
    enc = _make_block_encoder(IndexConfig(block_size=16))
    blocks = pd.concat(list(enc(iter([pdf]))), ignore_index=True)
    assert int(blocks["count"].sum()) == len(pdf)
    for b in blocks.itertuples():
        w = idf(n_docs, data.draw(st.integers(min_value=1, max_value=n_docs)))
        _, tf = decode_block(b.first_docid, b.count, b.doc_gaps, b.tfs)
        dl = decode_varints(b.dls, b.count)
        scores = w * tf_component_np(tf, dl, avgdl)
        bound = w * impacts_max_tfc(np.array([b.impacts], dtype=object),
                                  avgdl)[0]
        assert bound == scores.max()
