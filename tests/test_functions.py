"""Explain and facets."""

import math


def test_explain_components_sum_to_score(small_index):
    from bzzz_spark.query import ast
    from bzzz_spark.query.explain import explain_search

    node = ast.Bool(must=[ast.Term("error"), ast.Term("query")])
    rows = explain_search(small_index, node, size=5).collect()
    assert rows
    for r in rows:
        assert {e["term"] for e in r["_explain"]} == {"error", "query"}
        total = sum(e["term_score"] for e in r["_explain"])
        assert math.isclose(total, r["score"], rel_tol=1e-9)


def test_facet_counts_multi_and_tokens(small_index, small_oracle):
    """F1 parity: multi-dim one-pass facets + use-analyzer token
    faceting (reference index_store.clj:86-93, index_search.clj:252-262;
    counts exact, unlike the reference's 'broken by design' shard
    merge)."""
    from collections import Counter

    from bzzz_spark.analysis.tokenizer import py_tokenize
    from bzzz_spark.query import ast
    from bzzz_spark.query.executor import facet_counts_multi

    node = ast.Term("error")
    matched = set(small_oracle.execute(node))
    got = [
        (r["dim"], r["label"], r["cnt"])
        for r in facet_counts_multi(
            small_index, node, ["role", "tool"], size=3
        ).collect()
    ]
    want = []
    for dim in ["role", "tool"]:
        c = Counter(
            str(small_oracle.docs[d][dim])
            for d in matched
            if small_oracle.docs[d][dim] is not None
        )
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        want.extend((dim, lbl, n) for lbl, n in top)
    assert sorted(got) == sorted(want)

    # token faceting: labels are analyzed tokens, counted per OCCURRENCE
    gt = [
        (r["label"], r["cnt"])
        for r in facet_counts_multi(
            small_index, node, ["text"], size=5, use_analyzer=True
        ).collect()
    ]
    occ = Counter()
    for d in matched:
        occ.update(py_tokenize(small_oracle.docs[d]["text"]))
    wt = sorted(occ.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert gt == wt

