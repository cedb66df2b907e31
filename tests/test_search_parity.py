"""Rank-exactness vs the pure-Python BM25 oracle (the north-rule gate).

Every query from the reference query set (FIXTURES.md §2) must return
rank-identical docids with scores equal to 1e-9 relative tolerance.
"""

import math

import pytest

from bzzz_spark.query import ast
from bzzz_spark.query.executor import search, total_hits


def _assert_parity(index, oracle, node, size=10, page=0):
    got = [
        (r["docid"], r["score"])
        for r in search(index, node, size=size, page=page).collect()
    ]
    want = oracle.search(node, size=size, page=page)
    assert [d for d, _ in got] == [d for d, _ in want], (
        f"rank mismatch\n got={got}\nwant={want}"
    )
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), (got, want)


# --- the reference query set (FIXTURES.md §2) ---

def test_q_term_head(small_index, small_oracle):
    _assert_parity(small_index, small_oracle, ast.Term("the"))


def test_q_term_rare(small_index, small_oracle):
    _assert_parity(small_index, small_oracle, ast.Term("zzz"))


def test_q_term_missing(small_index, small_oracle):
    assert search(small_index, ast.Term("nosuchterm")).count() == 0


def test_q_and_2(small_index, small_oracle):
    node = ast.Bool(must=[ast.Term("error"), ast.Term("query")])
    _assert_parity(small_index, small_oracle, node)


def test_q_and_3_skew(small_index, small_oracle):
    node = ast.Bool(must=[ast.Term("the"), ast.Term("and"), ast.Term("data")])
    _assert_parity(small_index, small_oracle, node)


def test_q_topk_page(small_index, small_oracle):
    _assert_parity(small_index, small_oracle, ast.Term("the"), size=5, page=1)
    _assert_parity(small_index, small_oracle, ast.Term("the"), size=5, page=2)


def test_q_must_not(small_index, small_oracle):
    node = ast.Bool(must=[ast.Term("the")], must_not=[ast.Term("error")])
    _assert_parity(small_index, small_oracle, node)


def test_q_should_msm(small_index, small_oracle):
    node = ast.Bool(
        should=[ast.Term("error"), ast.Term("query"), ast.Term("spark")],
        minimum_should_match=2,
    )
    _assert_parity(small_index, small_oracle, node)


def test_q_must_plus_should(small_index, small_oracle):
    node = ast.Bool(must=[ast.Term("the")], should=[ast.Term("error")])
    _assert_parity(small_index, small_oracle, node)


def test_q_range(small_index, small_oracle):
    node = ast.Bool(
        must=[ast.Term("the"), ast.Range("turn_idx", min=2, max=6,
                                         max_inclusive=False)]
    )
    _assert_parity(small_index, small_oracle, node)


def test_q_range_open_ended(small_index, small_oracle):
    _assert_parity(small_index, small_oracle, ast.Range("dl", min=30))


def test_q_match_all(small_index, small_oracle):
    _assert_parity(small_index, small_oracle, ast.MatchAll(), size=20)


def test_q_filtered(small_index, small_oracle):
    node = ast.Filtered(query=ast.Term("the"), filter=ast.Term("data"))
    _assert_parity(small_index, small_oracle, node)


def test_q_constant_score(small_index, small_oracle):
    node = ast.ConstantScore(ast.Term("the"), boost=2.5)
    _assert_parity(small_index, small_oracle, node)


def test_q_dis_max(small_index, small_oracle):
    node = ast.DisMax(
        queries=[ast.Term("error"), ast.Term("query")], tie_breaker=0.3
    )
    _assert_parity(small_index, small_oracle, node)


def test_q_wildcard(small_index, small_oracle):
    _assert_parity(small_index, small_oracle, ast.Wildcard("tok001*"))


def test_q_fuzzy(small_index, small_oracle):
    _assert_parity(small_index, small_oracle, ast.Fuzzy("spark", max_edits=1))


def test_q_no_zero_score(small_index, small_oracle):
    node = ast.NoZeroScore(ast.ConstantScore(ast.Term("the"), boost=0.0))
    assert search(small_index, node).count() == 0
    assert len(small_oracle.search(node)) == 0


def test_q_random_score_deterministic(small_index, small_oracle):
    node = ast.RandomScore(ast.Term("the"), base=1.0, seed=7)
    _assert_parity(small_index, small_oracle, node)


def test_q_boost(small_index, small_oracle):
    _assert_parity(small_index, small_oracle, ast.Term("the", boost=3.0))


def test_total_hits(small_index, small_oracle):
    # bare term: answered from the dictionary's df (no matched-set scan)
    node = ast.Term("the")
    assert total_hits(small_index, node) == len(
        small_oracle.execute(node)
    )
    assert total_hits(small_index, ast.Term("zzqx_nosuch")) == 0
    # non-term shapes still count the matched set
    node = ast.Bool(must=[ast.Term("error"), ast.Term("query")])
    assert total_hits(small_index, node) == len(small_oracle.execute(node))


def test_json_dsl_roundtrip(small_index, small_oracle):
    spec = {
        "bool": {
            "must": [{"term": {"field": "text", "value": "the"}}],
            "must-not": [{"term": {"field": "text", "value": "error"}}],
        }
    }
    node = ast.parse_query(spec)
    _assert_parity(small_index, small_oracle, node)


def test_implicit_and_of_multikey_map(small_index, small_oracle):
    # reference: query.clj:36-40
    spec = {
        "term": {"field": "text", "value": "the"},
        "match-all": {},
    }
    node = ast.parse_query(spec)
    assert isinstance(node, ast.Bool) and len(node.must) == 2
    _assert_parity(small_index, small_oracle, node)


def test_custom_score(small_index, small_oracle):
    custom = ast.CustomScore(ast.Term("the"), expression="sqrt(dl)",
                             replace=False)
    # at the root, and nested in a Bool: the subtree reaches the plan as
    # a docs column
    nested = ast.Bool(must=[ast.Term("error")],
                      should=[custom, ast.Term("data")])
    for node in (custom, nested):
        got = [
            (r["docid"], r["score"])
            for r in search(small_index, node, size=10).collect()
        ]
        want = small_oracle.search(
            node, size=10,
            custom_fns={"sqrt(dl)": lambda doc, s: math.sqrt(doc["dl"])},
        )
        assert want and [d for d, _ in got] == [d for d, _ in want], node
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, rel_tol=1e-9)


def test_q_no_norm(small_index, small_oracle):
    """Below NoNorm, terms score with dl := avgdl (BM25 b = 0)."""
    node = ast.NoNorm(ast.Bool(should=[ast.Term("error"), ast.Term("data")]))
    _assert_parity(small_index, small_oracle, node)
    normed = small_oracle.search(node.query, size=10)
    assert small_oracle.search(node, size=10) != normed
    # nested under a must clause: classify has no boost to read
    _assert_parity(small_index, small_oracle, ast.Bool(
        must=[ast.Term("the"), ast.NoNorm(ast.Term("error"))]))


@pytest.mark.parametrize("n_part", [1, 3])
def test_result_invariance_across_partitions(spark, small_pdf, small_oracle, n_part):
    """Query results must not depend on build partitioning (the
    reference's sharding invariant, sharding_test.clj:27-78)."""
    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark

    idx = build_index(
        to_spark(spark, small_pdf),
        IndexConfig(block_size=8, segment_size=32, num_partitions=n_part),
    )
    node = ast.Bool(must=[ast.Term("the"), ast.Term("data")])
    _assert_parity(idx, small_oracle, node)
