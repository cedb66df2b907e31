"""Multimodal plumbing, explain and facets."""

import math

import pytest

from bzzz_spark.functions.multimodal import (
    attach_payload,
    extract_features,
    frame_sample,
)


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),  # dup of 0
        (2, "The quick  brown fox jumps over the lazy dog again and again"),  # ws/case dup
        (3, "the quick brown fox jumps over the lazy cat again and again"),  # near-dup
        (4, "completely different text about spark dataframes and shuffles"),
        (5, "der hund ist nicht ein katze und das ist gut"),
        (6, "el perro es un gato y la casa no es una mesa"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")



def test_multimodal_plumbing(spark, docs_df):
    media = attach_payload(docs_df, "text", "doc_id", kind="image")
    rows = {r["media_id"]: r for r in media.collect()}
    assert rows[0]["meta"]["n_bytes"] == len(rows[0]["payload"])
    assert rows[0]["meta"]["mime"] == "application/x-image"
    feats = {r["media_id"]: r["features"] for r in
             extract_features(media, feat_dim=8).collect()}
    assert len(feats[0]) == 8
    assert abs(sum(feats[0]) - 1.0) < 1e-9
    assert feats[0] == feats[1]  # identical payloads → identical features
    frames = frame_sample(media, every_n_bytes=16, max_frames=4).collect()
    assert frames and all(f["frame_idx"] < 4 for f in frames)


def test_extract_features_real_decode_rejects_unknown_formats(docs_df):
    # real decode now exists for PNG/WAV (tests/test_multimodal_decode);
    # a payload that is neither still raises, at decode time
    media = attach_payload(docs_df, "text", "doc_id")
    with pytest.raises(Exception, match="not PNG or WAV"):
        extract_features(media, fake=False).collect()


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

