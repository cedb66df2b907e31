"""Multi-field indexes: extra per-field inverted indexes keyed
'<field>:<token>' in the shared dictionary/postings, scored with norms
disabled (reference indexes every document field and queries carry
`field` — src/bzzz/index_store.clj:36-49; `_not_analyzed`/`_no_norms`
field-name conventions at util.clj:74-124)."""

import math

import pytest

from bzzz_spark.build.indexer import IndexConfig, build_index
from bzzz_spark.oracle.pyoracle import PyIndex
from bzzz_spark.query import ast
from bzzz_spark.query.executor import search

EXTRA = (("role", "keyword"), ("tool", "keyword"))


@pytest.fixture(scope="module")
def field_index(spark, small_transcripts):
    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    extra_fields=EXTRA),
    )
    idx.postings.cache().count()
    idx.docs.cache().count()
    return idx


@pytest.fixture(scope="module")
def field_oracle(small_pdf):
    return PyIndex(small_pdf.to_dict("records"), extra_fields=EXTRA)


def _parity(idx, oracle, node, size=10):
    got = [
        (r["docid"], r["score"]) for r in search(idx, node, size=size).collect()
    ]
    want = oracle.search(node, size=size)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9)
    return got


def test_pure_field_term(field_index, field_oracle):
    got = _parity(field_index, field_oracle, ast.Term("assistant", field_name="role"))
    assert got


def test_field_term_and_text_term(field_index, field_oracle):
    node = ast.Bool(
        must=[ast.Term("error"), ast.Term("user", field_name="role")]
    )
    got = _parity(field_index, field_oracle, node)
    assert got


def test_field_term_value_case_insensitive(field_index, field_oracle):
    a = search(field_index, ast.Term("ASSISTANT", field_name="role"), size=50).collect()
    b = search(field_index, ast.Term("assistant", field_name="role"), size=50).collect()
    assert [(r["docid"], r["score"]) for r in a] == [
        (r["docid"], r["score"]) for r in b
    ]


def test_field_wildcard_and_fuzzy(field_index, field_oracle):
    _parity(field_index, field_oracle, ast.Wildcard("ass*", field_name="role"))
    _parity(
        field_index, field_oracle,
        ast.Fuzzy("asistant", max_edits=1, field_name="role"),
    )


def test_default_wildcard_does_not_leak_field_keys(field_index, field_oracle):
    # "u*" as a TEXT wildcard must not match the role:user field key
    got = _parity(field_index, field_oracle, ast.Wildcard("u*"))
    n_role_user = len(field_oracle.postings["role:user"])
    n_text_u = len(
        search(field_index, ast.Wildcard("u*"), size=10_000).collect()
    )
    # oracle cross-check: the text-only expansion differs from the field
    # posting unless every doc coincidentally matches both
    assert n_text_u == len(field_oracle.execute(ast.Wildcard("u*")))
    assert got is not None and n_role_user > 0


def test_dictionary_holds_prefixed_keys_with_exact_df(field_index, small_pdf):
    rows = {
        r["term"]: (r["df"], r["cf"])
        for r in field_index.dictionary.collect()
        if ":" in r["term"]
    }
    # df of role:user == number of docs whose role is user (post-dedup)
    latest = {}
    for r in small_pdf.to_dict("records"):
        k = (r["conv_id"], r["turn_idx"])
        if k not in latest or r["ts"] >= latest[k]["ts"]:
            latest[k] = r
    from collections import Counter

    by_role = Counter(r["role"] for r in latest.values())
    for role, n in by_role.items():
        assert rows[f"role:{role}"] == (n, n)  # keyword: tf == 1 → cf == df


def test_field_validation_accepts_extra_fields(field_index):
    from bzzz_spark.query.executor import validate_fields

    validate_fields(field_index, ast.Term("x", field_name="role"))
    with pytest.raises(ValueError, match="unindexed"):
        validate_fields(field_index, ast.Term("x", field_name="nope"))


def test_query_parser_field_syntax_end_to_end(field_index, field_oracle):
    node = __import__(
        "bzzz_spark.query.parser", fromlist=["parse_query_string"]
    ).parse_query_string("error AND role:user")
    _parity(field_index, field_oracle, node)


def test_field_filter_arms_ride_kernel(field_index, field_oracle):
    """UNSCORED field-term membership (filter arms, must_not) rides the
    block-max kernel via the '<field>:<token>' dictionary key —
    intersection needs no norms, so the text-field-only restriction
    applies solely to SCORED terms (r4).  Results must match the oracle
    and the exhaustive plan."""
    from bzzz_spark.query.wand import wand_candidates

    kernel_nodes = [
        ast.Filtered(query=ast.Term("merge"),
                     filter=ast.Term("user", field_name="role")),
        ast.Filtered(
            query=ast.Bool(must=[ast.Term("error"), ast.Term("query")]),
            filter=ast.Term("assistant", field_name="role"),
        ),
        ast.Filtered(
            query=ast.Term("merge"),
            filter=ast.Bool(
                must=[ast.Term("user", field_name="role")],
                must_not=[ast.Term("nosuchtool", field_name="tool")],
            ),
        ),
        ast.Bool(must=[ast.Term("merge")],
                 must_not=[ast.Term("assistant", field_name="role")]),
        # term_key lowercases keyword values — parity with the executor
        ast.Filtered(query=ast.Term("merge"),
                     filter=ast.Term("USER", field_name="role")),
        # an out-of-vocabulary filter value matches nothing
        ast.Filtered(query=ast.Term("merge"),
                     filter=ast.Term("nosuchrole", field_name="role")),
    ]
    from bzzz_spark.query.rewrite import normalize

    for node in kernel_nodes:
        assert wand_candidates(field_index, node, 10) is not None, node
        # the PRODUCTION path normalizes first (Filtered lowers to a
        # zero-boost-must Bool) — the lowered form must still classify
        # as kernel-servable, or search() silently pays the exhaustive
        # decode while this test stays green
        assert wand_candidates(field_index, normalize(node), 10) \
            is not None, ("normalized form off the kernel", node)
        _parity(field_index, field_oracle, node)
        got = [(r["docid"], round(r["score"], 9)) for r in
               search(field_index, node, size=10).collect()]
        slow = [(r["docid"], round(r["score"], 9)) for r in
                search(field_index, node, size=10, use_wand=False).collect()]
        assert got == slow, node
    # SCORED field terms keep falling back (norms-disabled scoring is
    # the executor's job)
    scored = ast.Bool(must=[ast.Term("merge"),
                            ast.Term("user", field_name="role")])
    assert wand_candidates(field_index, scored, 10) is None
    _parity(field_index, field_oracle, scored)


def test_explain_sums_to_score_with_field_terms(field_index):
    """explain_search keys extra-field terms '<field>:<token>' and gives
    them the no-norms tf component, so every hit's components sum to
    its score — for a bare field term and for a text AND field term."""
    from bzzz_spark.query.explain import explain_search

    for node, keys in (
        (ast.Term("assistant", field_name="role"), {"role:assistant"}),
        (ast.Bool(must=[ast.Term("error"),
                        ast.Term("user", field_name="role")]),
         {"error", "role:user"}),
    ):
        rows = explain_search(field_index, node, size=5).collect()
        assert rows
        for r in rows:
            assert {e["term"] for e in r["_explain"]} == keys
            total = sum(e["term_score"] for e in r["_explain"])
            assert math.isclose(total, r["score"], rel_tol=1e-9), (
                node, total, r["score"])
