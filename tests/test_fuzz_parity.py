"""Randomized query parity fuzz: hypothesis-generated ASTs run through
the BATCHED engine path (search_many — one Spark action per example
batch) and compared rank- and score-exactly against the pure-Python
oracle.  Covers the batch's block-max kernel plans (terms, flat bools,
required disjunction groups, dis-max), its executor fallback (ranges
and match-all without doc-values, nested bools), and the combinators'
interaction with boosts and minimum_should_match — the shapes a
hand-written test matrix under-samples.

Reference semantics being fuzzed: bool combination queries/bool.clj:4-17,
paging/tie-break index_search.clj:272,306."""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bzzz_spark.query import ast
from bzzz_spark.query.batch import search_many

# head + mid + guaranteed-absent terms: hits, partial hits, and misses
VOCAB = ["the", "a", "to", "error", "data", "query", "merge", "scan",
         "filter", "zz_never_a_term"]

_term = st.builds(
    ast.Term,
    st.sampled_from(VOCAB),
    st.just("text"),
    st.sampled_from([1.0, 2.0, 0.5]),
)
_range = st.builds(
    lambda lo, hi, inc: ast.Range("turn_idx", min=lo, max=max(lo, hi),
                                  min_inclusive=inc, max_inclusive=True),
    st.integers(0, 6), st.integers(0, 12), st.booleans(),
)
_leaf = st.one_of(_term, _range, st.just(ast.MatchAll()))

_flat_bool = st.builds(
    lambda must, should, must_not, msm, boost: ast.Bool(
        must=must, should=should, must_not=must_not,
        minimum_should_match=min(msm, len(should)) if should else 0,
        boost=boost,
    ),
    st.lists(_leaf, max_size=3),
    st.lists(_term, max_size=3),
    st.lists(_term, max_size=2),
    st.integers(0, 2),
    st.sampled_from([1.0, 3.0]),
)
# nested shapes the rewrite cannot flatten exercise the executor
# fallback
_nested = st.builds(
    lambda inner, extra: ast.Bool(must=[inner] + extra),
    _flat_bool, st.lists(_term, min_size=1, max_size=2),
)
# required disjunction groups (r4, late): "(a OR b) AND (c OR d)" —
# the rewrite hoists the first group into msm-gated optionals, later
# groups ride the mixed kernel's 'g' conjuncts, in the batch's shared
# kernel pass like every other planned query.  Duplicate members
# are deliberately possible (the vocab is small): each occurrence must
# score and count toward the group's msm separately
_group = st.builds(
    lambda s, msm: ast.Bool(
        should=s, minimum_should_match=min(msm, len(s))
    ),
    st.lists(_term, min_size=1, max_size=3),
    st.integers(0, 2),
)
_grouped = st.builds(
    lambda gs, extra, neg: ast.Bool(
        must=list(gs) + extra, must_not=neg
    ),
    st.lists(_group, min_size=1, max_size=3),
    st.lists(_term, max_size=2),
    st.lists(_term, max_size=1),
)
_query = st.one_of(_term, _flat_bool, _nested, _grouped,
                   st.builds(lambda qs: ast.DisMax(queries=qs, tie_breaker=0.3),
                             st.lists(_term, min_size=2, max_size=3)))


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(_query, min_size=4, max_size=10))
def test_random_query_batch_matches_oracle(small_index, small_oracle, queries):
    qs = {f"q{i}": node for i, node in enumerate(queries)}
    rows = search_many(small_index, qs, size=10).collect()
    got: dict[str, list] = {qid: [] for qid in qs}
    for r in rows:
        got[r["query_id"]].append((r["docid"], r["score"]))
    for qid, node in qs.items():
        want = small_oracle.search(node, size=10)
        g = got[qid]
        assert [d for d, _ in g] == [d for d, _ in want], (
            f"{qid}: rank mismatch for {node}"
        )
        for (_, gs), (_, ws) in zip(g, want):
            assert math.isclose(gs, ws, rel_tol=1e-6), (
                f"{qid}: score mismatch for {node}: {gs} vs {ws}"
            )


# ---- WAND-kernel fuzz: the single-query fast path with doc-value
# ranges + must_not exclusions (round-3 kernel extensions), checked
# against BOTH the oracle and the exhaustive executor plan.

import pytest

from bzzz_spark.query.executor import search


@pytest.fixture(scope="module")
def dv_index(spark, small_transcripts):
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    docvalue_cols=("turn_idx",)),
    )
    idx.postings.cache().count()
    return idx


_wand_bool = st.builds(
    lambda must_terms, ranges, neg: ast.Bool(
        must=list(must_terms) + list(ranges), must_not=list(neg)
    ),
    st.lists(_term, min_size=1, max_size=3),
    st.lists(_range, max_size=2),
    st.lists(_term, max_size=2),
)


# top-level wildcard/fuzzy: the constant-score 'any' kernel (round-3)
# — early termination at the k smallest docids must never change
# results vs the exhaustive executor and the oracle
_glob = st.builds(
    lambda term, cut, star, lead: (
        ("*" if lead else "")
        + term[:cut]
        + ("*" if star else "?" * max(0, min(2, len(term) - cut)))
    ),
    st.sampled_from([v for v in VOCAB if len(v) >= 2]),
    st.integers(1, 4),
    st.booleans(),
    st.booleans(),
)
_multiterm = st.one_of(
    st.builds(lambda g, b: ast.Wildcard(g, boost=b), _glob,
              st.sampled_from([1.0, 2.0])),
    st.builds(
        lambda t, d, p: ast.Fuzzy(t, max_edits=d, prefix_len=p),
        st.sampled_from(VOCAB),
        st.integers(1, 2),
        st.integers(0, 1),
    ),
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_multiterm, st.sampled_from([1, 5, 25]))
def test_random_multiterm_any_kernel_matches_oracle(
    small_index, small_oracle, node, size
):
    got = [(r["docid"], r["score"]) for r in
           search(small_index, node, size=size).collect()]
    want = small_oracle.search(node, size=size)
    assert got == want, (node, size)
    slow = [(r["docid"], r["score"]) for r in
            search(small_index, node, size=size, use_wand=False).collect()]
    assert got == slow, (node, size)


# should-only bools with msm + exclusions at varying k: the MaxScore
# disjunction path (round-3) — θ-pruning must never change results
_wand_or = st.builds(
    lambda should, msm, neg: ast.Bool(
        should=should,
        minimum_should_match=min(msm, len(should)),
        must_not=list(neg),
    ),
    st.lists(_term, min_size=1, max_size=4, unique_by=lambda t: t.value),
    st.integers(0, 2),
    st.lists(_term, max_size=2),
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_wand_or, st.sampled_from([1, 3, 10, 40]))
def test_random_wand_or_maxscore_matches_oracle(
    dv_index, small_oracle, node, size
):
    got = [(r["docid"], r["score"]) for r in
           search(dv_index, node, size=size).collect()]
    want = small_oracle.search(node, size=size)
    assert [d for d, _ in got] == [d for d, _ in want], (node, size)
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), node


# Filtered shapes: normalize() lowers Filtered(q, f) to
# Bool(must=[q, f@boost=0]) (round 4) — filtered conjunctions ride the
# and-kernel and filtered disjunctions the ReqOptSum kernel; the
# lowering plus kernel must never change results vs the oracle
_wand_filtered = st.builds(
    lambda q, f: ast.Filtered(query=q, filter=f),
    st.one_of(
        _term,
        st.builds(lambda m: ast.Bool(must=m), st.lists(_term, min_size=1,
                                                       max_size=2)),
        st.builds(
            lambda s, msm: ast.Bool(
                should=s, minimum_should_match=min(msm, len(s))
            ),
            st.lists(_term, min_size=1, max_size=3),
            st.integers(0, 2),
        ),
    ),
    st.one_of(_term, _range, st.just(ast.MatchAll())),
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_wand_filtered, st.sampled_from([1, 5, 25]))
def test_random_wand_filtered_matches_oracle(
    dv_index, small_oracle, node, size
):
    got = [(r["docid"], r["score"]) for r in
           search(dv_index, node, size=size).collect()]
    want = small_oracle.search(node, size=size)
    assert [d for d, _ in got] == [d for d, _ in want], (node, size)
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), node


# ConstantScore over a Term / should-only Bool of Terms rides the
# constant-score 'any' kernel (round 4, Lucene CONSTANT_SCORE_REWRITE
# discipline): every match scores boost, top-k = k smallest docids —
# the kernel's output must match the oracle at every k and boost
_wand_const = st.builds(
    lambda q, b: ast.ConstantScore(q, boost=b),
    st.one_of(
        _term,
        st.builds(
            lambda s: ast.Bool(should=s),
            st.lists(_term, min_size=1, max_size=3),
        ),
    ),
    st.sampled_from([0.5, 1.0, 2.5]),
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_wand_const, st.sampled_from([1, 5, 25]))
def test_random_wand_constant_score_matches_oracle(
    dv_index, small_oracle, node, size
):
    got = [(r["docid"], r["score"]) for r in
           search(dv_index, node, size=size).collect()]
    want = small_oracle.search(node, size=size)
    assert [d for d, _ in got] == [d for d, _ in want], (node, size)
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), node


def test_constant_score_rides_the_any_kernel(dv_index):
    from bzzz_spark.query.wand import wand_candidates

    for node in (
        ast.ConstantScore(ast.Term("the"), boost=2.0),
        ast.ConstantScore(
            ast.Bool(should=[ast.Term("the"), ast.Term("error")])
        ),
    ):
        assert wand_candidates(dv_index, node, k=5) is not None, node
    # conjunction inners stay on the exhaustive plan
    assert wand_candidates(
        dv_index,
        ast.ConstantScore(ast.Bool(must=[ast.Term("the")])),
        k=5,
    ) is None


# dis-max over terms: the MaxScore-kernel dismax combiner (round 4) —
# (1-tie)*max + tie*sum with independent max/sum bounds must never
# change results vs the oracle at any tie or k
_wand_dismax = st.builds(
    lambda terms, tie, boost: ast.DisMax(
        queries=list(terms), tie_breaker=tie, boost=boost
    ),
    st.lists(_term, min_size=1, max_size=4),
    st.sampled_from([0.0, 0.3, 1.0]),
    st.sampled_from([1.0, 2.0]),
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_wand_dismax, st.sampled_from([1, 5, 25]))
def test_random_wand_dismax_matches_oracle(
    dv_index, small_oracle, node, size
):
    got = [(r["docid"], r["score"]) for r in
           search(dv_index, node, size=size).collect()]
    want = small_oracle.search(node, size=size)
    assert [d for d, _ in got] == [d for d, _ in want], (node, size)
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), node


# must + should mixed bools: the ReqOptSumScorer kernel path (round 4)
# — optional-term scoring, minimum_should_match over optionals, and the
# normalize() dup-merge must never change results vs the oracle
_wand_mixed = st.builds(
    lambda must, should, msm, neg: ast.Bool(
        must=list(must), should=list(should),
        minimum_should_match=min(msm, len(should)),
        must_not=list(neg),
    ),
    st.lists(_term, min_size=1, max_size=2),
    st.lists(_term, min_size=1, max_size=3),
    st.integers(0, 2),
    st.lists(_term, max_size=1),
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_wand_mixed, st.sampled_from([1, 5, 25]))
def test_random_wand_req_opt_matches_oracle(
    dv_index, small_oracle, node, size
):
    got = [(r["docid"], r["score"]) for r in
           search(dv_index, node, size=size).collect()]
    want = small_oracle.search(node, size=size)
    assert [d for d, _ in got] == [d for d, _ in want], (node, size)
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), node


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_wand_bool)
def test_random_wand_range_exclusion_matches_oracle(
    dv_index, small_oracle, node
):
    got = [(r["docid"], r["score"]) for r in
           search(dv_index, node, size=10).collect()]
    want = small_oracle.search(node, size=10)
    assert [d for d, _ in got] == [d for d, _ in want], node
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), node
    slow = [(r["docid"], round(r["score"], 9)) for r in
            search(dv_index, node, size=10, use_wand=False).collect()]
    assert [(d, round(s, 9)) for d, s in got] == slow, node


# ranges with set/group conjuncts (round 4, late): the dv row mask
# rides the set's or group's own decode (every member posting of a doc
# inlines the same value) — no term conjunct carrier needed.  Shapes
# with no term conjunct at all exercise the skipped hoist (a range-only
# must list cannot drive the ReqOptSum kernel).
_group_conj = st.builds(
    lambda members, msm: ast.Bool(
        should=list(members),
        minimum_should_match=min(msm, len(members)),
    ),
    st.lists(_term, min_size=1, max_size=3),
    st.integers(0, 2),
)
_set_conj = st.builds(
    lambda g, b: ast.Wildcard(g, boost=b),
    st.sampled_from(["er*", "d*a", "m?rge", "sc*", "*ery"]),
    st.sampled_from([1.0, 2.0]),
)
_wand_setgroup_range = st.builds(
    lambda conj, terms, ranges, neg: ast.Bool(
        must=list(conj) + list(terms) + list(ranges), must_not=list(neg)
    ),
    st.lists(st.one_of(_group_conj, _set_conj), min_size=1, max_size=2),
    st.lists(_term, max_size=1),
    st.lists(_range, min_size=1, max_size=2),
    st.lists(_term, max_size=1),
)


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_wand_setgroup_range, st.sampled_from([1, 5, 25]))
def test_random_setgroup_range_matches_exhaustive(dv_index, node, size):
    fast = search(dv_index, node, size=size)
    slow = search(dv_index, node, size=size, use_wand=False)
    assert [(r["docid"], round(r["score"], 9)) for r in fast.collect()] == \
           [(r["docid"], round(r["score"], 9)) for r in slow.collect()], node


# Phrase clauses inside pure disjunctions and dis-max (round 4): the
# MaxScore kernel treats a phrase as a pseudo-term bounded by
# w_p*(k1+1) — admission evaluates the positional kernel over the
# segment, closed-phase evaluation restricts to surviving candidates.
# Pruning must never change results vs the oracle.
@pytest.fixture(scope="module")
def pos_index(spark, small_transcripts):
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    store_positions=True),
    )
    idx.postings.cache().count()
    return idx


_phrase = st.builds(
    lambda t1, t2, slop, boost: ast.Phrase([t1, t2], slop=slop, boost=boost),
    st.sampled_from(VOCAB),
    st.sampled_from(VOCAB),
    st.sampled_from([0, 1, 3]),
    st.sampled_from([1.0, 2.0]),
)

_wand_phrase_or = st.one_of(
    st.builds(
        lambda phr, terms, msm, neg: ast.Bool(
            should=[phr] + terms,
            minimum_should_match=min(msm, 1 + len(terms)),
            must_not=list(neg),
        ),
        _phrase,
        st.lists(_term, max_size=3, unique_by=lambda t: t.value),
        st.integers(0, 2),
        st.lists(_term, max_size=1),
    ),
    st.builds(
        lambda phr, terms, tie: ast.DisMax(
            queries=[phr] + terms, tie_breaker=tie
        ),
        _phrase,
        st.lists(_term, min_size=1, max_size=2,
                 unique_by=lambda t: t.value),
        st.sampled_from([0.0, 0.3, 1.0]),
    ),
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_wand_phrase_or, st.sampled_from([1, 5, 25]))
def test_random_phrase_disjunction_matches_oracle(
    pos_index, small_oracle, node, size
):
    got = [(r["docid"], r["score"]) for r in
           search(pos_index, node, size=size).collect()]
    want = small_oracle.search(node, size=size)
    assert [d for d, _ in got] == [d for d, _ in want], (node, size)
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), node


# Wildcard/Fuzzy clauses in disjunctions (round 4, late): constant-score
# term SETS on the MaxScore kernel — contribution = boost if any
# expansion matches, bound = boost; closed-phase decodes only
# candidate-overlapping member blocks.
_wand_multi_or = st.builds(
    lambda mult, terms, msm, neg: ast.Bool(
        should=[mult] + terms,
        minimum_should_match=min(msm, 1 + len(terms)),
        must_not=list(neg),
    ),
    _multiterm,
    st.lists(_term, max_size=3, unique_by=lambda t: t.value),
    st.integers(0, 2),
    st.lists(_term, max_size=1),
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(_wand_multi_or, st.sampled_from([1, 5, 25]))
def test_random_multiterm_disjunction_matches_oracle(
    dv_index, small_oracle, node, size
):
    got = [(r["docid"], r["score"]) for r in
           search(dv_index, node, size=size).collect()]
    want = small_oracle.search(node, size=size)
    assert [d for d, _ in got] == [d for d, _ in want], (node, size)
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), node
