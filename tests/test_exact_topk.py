"""Exact top-k under heavy score ties.

Block-max pruning is filter-then-verify: a block is skipped when its
bound falls strictly below θ, the kth best score so far.  That is exact
only if no bound ever sits below a score it bounds (Koios, ICDE 2023,
PAPERS.md), not even by one ulp: on a corpus where many documents
duplicate a few texts, many docs tie at the top-k cut, and a bound one
ulp low skips the block holding the lower-docid tie.  Every answer of
the in-process tier must equal PyIndex's docids exactly."""

import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bzzz_spark.oracle.pyoracle import PyIndex
from bzzz_spark.query import ast
from bzzz_spark.serve.local import LocalIndex, local_search

VOCAB = [f"t{i}" for i in range(12)]
N_DOCS = 1500


def _tie_corpus() -> pd.DataFrame:
    """N_DOCS turns drawn from 30 base texts, so most docs share their
    (tf, dl) with dozens of others."""
    rng = np.random.default_rng(13)
    p = 1.0 / np.arange(1, len(VOCAB) + 1)
    bases = [
        " ".join(rng.choice(VOCAB, size=int(rng.integers(2, 8)), p=p / p.sum()))
        for _ in range(30)
    ]
    texts = [bases[i] for i in rng.integers(0, len(bases), size=N_DOCS)]
    return pd.DataFrame({
        "conv_id": [f"c{i:04d}" for i in range(N_DOCS)],
        "turn_idx": [0] * N_DOCS,
        "role": ["user"] * N_DOCS,
        "text": texts,
        "tool": [""] * N_DOCS,
        "ts": pd.to_datetime(["2026-01-01"] * N_DOCS),
    })


@pytest.fixture(scope="module")
def tie_indexes(spark, tmp_path_factory):
    """One Spark build of many small blocks, served in-process as one
    segment and as 256-doc segments, plus its oracle."""
    from bzzz_spark.build.checkpoint import write_index
    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark

    pdf = _tie_corpus()
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(block_size=8, segment_size=256, num_partitions=2),
    )
    fat = str(tmp_path_factory.mktemp("tie_fat"))
    thin = str(tmp_path_factory.mktemp("tie_thin"))
    write_index(idx, fat)
    write_index(idx, thin, serving_segment_size=None)
    return [LocalIndex(fat), LocalIndex(thin)], PyIndex(pdf.to_dict("records"))


BOOSTS = st.sampled_from([1.0, 1.0, 0.3, 0.7, 1.9, 2.5])
TERMS = st.lists(st.sampled_from(VOCAB), min_size=2, max_size=4, unique=True)


@st.composite
def queries(draw):
    shape = draw(st.sampled_from(["term", "and", "or", "dismax"]))
    terms = [ast.Term(t, boost=draw(BOOSTS)) for t in draw(TERMS)]
    if shape == "term":
        return terms[0]
    if shape == "and":
        return ast.Bool(must=terms[:2])
    if shape == "or":
        msm = draw(st.integers(min_value=0, max_value=len(terms)))
        return ast.Bool(should=terms, minimum_should_match=msm)
    tie = draw(st.sampled_from([0.0, 0.1, 0.5, 1.0]))
    return ast.DisMax(queries=terms, tie_breaker=tie, boost=draw(BOOSTS))


@given(node=queries(), k=st.integers(min_value=1, max_value=12),
       page=st.integers(min_value=0, max_value=2))
@settings(max_examples=300, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_tied_topk_matches_oracle_exactly(tie_indexes, node, k, page):
    served, oracle = tie_indexes
    want = oracle.search(node, size=k, page=page)
    for lix in served:
        got = local_search(lix, node, size=k, page=page)
        assert got["docid"].tolist() == [d for d, _ in want], node
        for g, (_, w) in zip(got["score"].tolist(), want):
            assert math.isclose(g, w, rel_tol=1e-9), node
