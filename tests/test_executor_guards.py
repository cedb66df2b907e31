"""Scale guards on the query path: multi-term expansion must happen in
Spark (dictionary filter), never via a driver-side full-vocabulary
collect (at 10^12 turns the vocabulary is 10^8+ terms → driver OOM);
unknown field names must raise instead of silently answering from the
text index (reference carries per-field indexes,
src/bzzz/index_store.clj:36-49)."""

import pytest

from bzzz_spark.query import ast
from bzzz_spark.query.executor import (
    expand_multiterm,
    glob_to_regex,
    search,
    validate_fields,
)


def test_glob_to_regex_semantics():
    import re

    rx = re.compile(glob_to_regex("s*n"))
    assert rx.match("scan") and rx.match("sn") and not rx.match("scans")
    rx = re.compile(glob_to_regex("te?m"))
    assert rx.match("term") and not rx.match("teem_x") and not rx.match("tem")
    # regex metachars in the glob are literal
    rx = re.compile(glob_to_regex("a.b*"))
    assert rx.match("a.bc") and not rx.match("axbc")


def test_expansion_is_a_dictionary_filter_not_a_full_collect(small_index):
    """The expansion plan must contain a Filter on the dictionary scan —
    i.e. the rlike/levenshtein predicate runs in Spark and only matching
    terms are collected."""
    pats = [ast.Wildcard("tok001*"), ast.Fuzzy("spark", max_edits=1)]
    cond_plan = small_index.dictionary.filter(
        small_index.dictionary["term"].rlike(glob_to_regex("tok001*"))
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "RLIKE" in cond_plan or "rlike" in cond_plan

    wexp, fexp = expand_multiterm(small_index.dictionary, pats)
    vocab_size = small_index.dictionary.count()
    # the collected candidate set is the expansion, not the vocabulary
    assert 0 < len(wexp) + len(fexp) < vocab_size
    assert all(t.startswith("tok001") for t in wexp)
    assert all(len(t) >= 4 for t in fexp)


def test_expansion_matches_oracle(small_index, small_oracle):
    [exp] = expand_multiterm(small_index.dictionary, [ast.Wildcard("tok00*")])
    import re

    rx = re.compile(glob_to_regex("tok00*"))
    want = {t for t in small_oracle.postings if rx.match(t)}
    assert set(exp) == want


def test_unknown_field_raises(small_index):
    with pytest.raises(ValueError, match="unindexed field"):
        search(small_index, ast.Term("assistant", field_name="role")).collect()
    with pytest.raises(ValueError, match="unindexed field"):
        validate_fields(
            small_index,
            ast.Bool(must=[ast.Term("x"), ast.Wildcard("a*", field_name="nope")]),
        )
    # the direct kernel entry validates too
    from bzzz_spark.query.wand import wand_search

    with pytest.raises(ValueError, match="unindexed field"):
        wand_search(small_index, ast.Wildcard("a*", field_name="nope"))
    # a Range names a docs column, with bounds of the column's type
    for rng in (
        ast.Range("nope", min=1),  # no such docs column
        ast.Range("ts", min=0),  # a timestamp column takes no bound
        ast.Range("role", min=3),  # a string column takes str bounds
        ast.Range("turn_idx", max="3"),  # a numeric column numbers
    ):
        with pytest.raises(ValueError, match=f"range on field '{rng.field_name}'"):
            search(small_index, ast.Bool(must=[ast.Term("the"), rng])).collect()
    # the default alias and the configured text column are both fine
    validate_fields(small_index, ast.Term("the"))
    validate_fields(small_index, ast.Term("the", field_name="text"))
    validate_fields(small_index, ast.Range("turn_idx", min=1, max=2.5))
    validate_fields(small_index, ast.Range("role", min="a"))


def test_term_lookup_memoized(spark, small_transcripts):
    """lookup_terms caches present AND absent keys: the second identical
    query runs zero dictionary jobs (serving-mode latency lever)."""
    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.query import ast
    from bzzz_spark.query.executor import search

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=2),
    )
    q = ast.Bool(must=[ast.Term("the")], must_not=[ast.Term("zzz_missing")])
    first = [(r["docid"], round(r["score"], 6)) for r in search(idx, q, size=5).collect()]
    assert idx._term_cache.get("the") is not None
    assert "zzz_missing" in idx._term_cache and idx._term_cache["zzz_missing"] is None
    # poison the dictionary reference: a cached re-query must not touch it
    real_dict = idx.dictionary
    class _Boom:
        def filter(self, *_a, **_k):
            raise AssertionError("dictionary job ran on a fully-cached query")
    idx.dictionary = _Boom()
    second = [(r["docid"], round(r["score"], 6)) for r in search(idx, q, size=5).collect()]
    idx.dictionary = real_dict
    assert second == first
