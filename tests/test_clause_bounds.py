"""The block-max kernels prune with each clause's segment bound
(query.wand._Clause.bound, rounded up by _up): θ's admission and
retirement bounds in _maxscore_topk and the optional clauses' widening
of the conjunction bound in _Optionals.  A bound below a contribution
the clause's matcher returns would prune a true top-k doc, so every
kind is checked here over random small block sets built by the build's
own encoder: term (w · block max_tfc), constant-score set (its
constant), required group (per entry) and phrase (w · (k1 + 1)).  A
matcher reused across calls, decoding each block once, must answer as a
fresh one does."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from bzzz_spark.build.indexer import IndexConfig, _make_block_encoder
from bzzz_spark.query.blocks import Blocks, impacts_max_tfc
from bzzz_spark.query.wand import _Clause, _Match, _Spec, _up

N_TERMS = 4

docs_st = st.lists(
    st.lists(st.integers(0, N_TERMS - 1), min_size=1, max_size=12),
    min_size=1, max_size=60,
)
weight_st = st.floats(min_value=0.0, max_value=20.0)


def _segment(docs, norms: bool, avgdl: float) -> Blocks:
    """One segment's blocks (4 postings each, with positions) for docs
    given as token lists; dl 0 (norms off) scores as avgdl."""
    rows = []
    for t in range(N_TERMS):
        for d, toks in enumerate(docs):
            pos = [i for i, x in enumerate(toks) if x == t]
            if pos:
                rows.append((t, 0, d, len(pos), len(toks) if norms else 0,
                             np.array(pos, dtype=np.int64)))
    pdf = pd.DataFrame(
        rows, columns=["term_id", "segment", "docid", "tf", "dl", "positions"])
    enc = _make_block_encoder(IndexConfig(block_size=4, store_positions=True))
    blocks = pd.concat(list(enc(iter([pdf]))), ignore_index=True)
    blocks["max_tfc"] = impacts_max_tfc(blocks["impacts"].to_numpy(), avgdl)
    return Blocks.from_frame(blocks)


@given(
    docs_st,
    st.booleans(),
    st.floats(min_value=0.5, max_value=50.0),
    st.data(),
)
@settings(max_examples=150, deadline=None)
def test_clause_bound_covers_every_contribution(docs, norms, avgdl, data):
    b = _segment(docs, norms, avgdl)
    tids = st.integers(0, N_TERMS - 1)
    members = data.draw(st.lists(tids, min_size=1, max_size=N_TERMS))
    entries = [(t, data.draw(weight_st)) for t in members]
    clauses = [
        *(_Clause("term", (t,), data.draw(weight_st))
          for t in range(N_TERMS)),
        _Clause("set", sorted(set(members)), data.draw(weight_st)),
        _Clause.group(entries, data.draw(st.integers(1, len(entries)))),
        _Clause.phrase(data.draw(st.lists(tids, min_size=1, max_size=3)),
                       data.draw(st.integers(0, 2)), data.draw(weight_st)),
    ]
    every = np.arange(len(docs), dtype=np.int64)
    some = np.array(sorted(data.draw(st.sets(st.integers(0, len(docs) - 1)))),
                    dtype=np.int64)
    for c in clauses:
        if not c.present(b):
            continue
        q = _Spec("and", 1, 10, avgdl, None, [], 0.0, 0, [c], [], None)
        bound = _up(c.bound(b))
        reused = _Match(q, c, b)  # decodes each block once across calls
        for cand in (some, None, every):
            got = _Match(q, c, b).match(cand)
            again = reused.match(cand)
            assert (got is None) == (again is None), c.kind
            if got is not None:
                assert np.array_equal(got[0], again[0]), c.kind
                assert np.array_equal(got[1], again[1]), c.kind
            if got is not None and got[1].size:
                assert got[1].max() <= bound, (c.kind, got[1].max(), bound)
