"""Index build correctness vs the pure-Python oracle (SURVEY.md §7 M2/M4).

Reference test style adopted: exact tf/df assertions on a corpus with
knowable statistics (test/bzzz/core_test.clj:38-75), upsert semantics
(index_store.clj:109-113), invariance across partitioning
(test/bzzz/sharding_test.clj:27-51).
"""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bzzz_spark.build.codec import decode_block, decode_varints
from bzzz_spark.build.indexer import IndexConfig, build_index
from bzzz_spark.fixtures import EPOCH, synth_transcripts_pdf, to_spark
from bzzz_spark.oracle.pyoracle import PyIndex


def _decode_all_postings(index):
    """postings table → {term: {docid: tf}} via full decode."""
    dict_rows = {r["term_id"]: r["term"] for r in index.dictionary.collect()}
    out = {}
    for row in index.postings.collect():
        term = dict_rows[row["term_id"]]
        d, tf = decode_block(
            row["first_docid"], row["count"], row["doc_gaps"], row["tfs"]
        )
        out.setdefault(term, {}).update(dict(zip(d.tolist(), tf.tolist())))
    return out


def test_docids_dense_and_ordered(small_index, small_oracle):
    got = [
        (r["docid"], r["conv_id"], r["turn_idx"])
        for r in small_index.docs.select("docid", "conv_id", "turn_idx")
        .orderBy("docid")
        .collect()
    ]
    want = [(d["docid"], d["conv_id"], d["turn_idx"]) for d in small_oracle.docs]
    assert got == want  # dense 0..N-1 in (conv_id, turn_idx) order


def test_stats_match_oracle(small_index, small_oracle):
    n, avgdl = small_index.scalar_stats()
    assert n == small_oracle.n_docs
    assert abs(avgdl - small_oracle.avgdl) < 1e-9


def test_dictionary_matches_oracle(small_index, small_oracle):
    got = {
        r["term"]: (r["df"], r["cf"]) for r in small_index.dictionary.collect()
    }
    want = {
        t: (len(p), sum(p.values())) for t, p in small_oracle.postings.items()
    }
    assert got == want


def test_term_ids_dense(small_index):
    ids = sorted(r["term_id"] for r in small_index.dictionary.collect())
    assert ids == list(range(len(ids)))


def test_postings_match_oracle_exactly(small_index, small_oracle):
    got = _decode_all_postings(small_index)
    want = {t: dict(p) for t, p in small_oracle.postings.items()}
    assert got == want


def test_block_invariants(small_index):
    cfg = small_index.config
    seg_span: dict[int, list[int]] = {}
    for row in small_index.postings.collect():
        assert 1 <= row["count"] <= cfg.block_size
        d, tf = decode_block(
            row["first_docid"], row["count"], row["doc_gaps"], row["tfs"]
        )
        assert (d[1:] > d[:-1]).all() if len(d) > 1 else True
        # the impacts frontier leads with the block's max tf, and its dl
        # strictly decreases
        imp = decode_varints(row["impacts"]).reshape(-1, 2)
        assert imp[0, 0] + 1 == tf.max()
        assert (np.diff(imp[:, 1]) < 0).all()
        s = seg_span.setdefault(row["segment"], [int(d.min()), int(d.max())])
        s[0] = min(s[0], int(d.min()))
        s[1] = max(s[1], int(d.max()))
    # the skew-salt invariant: a segment (docid // segment_size) is a
    # contiguous docid range holding at most segment_size docs, and
    # segments do not overlap
    spans = sorted(seg_span.values())
    for lo, hi in spans:
        assert hi - lo < cfg.segment_size
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next


def test_upsert_latest_ts_wins(spark):
    rows = [
        ("c1", 0, "user", "old text alpha", "", EPOCH),
        ("c1", 0, "user", "new text beta", "", EPOCH + pd.Timedelta(seconds=5)),
        ("c1", 1, "assistant", "other gamma", "", EPOCH + pd.Timedelta(seconds=1)),
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    idx = build_index(to_spark(spark, pdf), IndexConfig(num_partitions=2))
    texts = {
        r["turn_idx"]: r["text"] for r in idx.docs.select("turn_idx", "text").collect()
    }
    assert texts == {0: "new text beta", 1: "other gamma"}
    terms = {r["term"] for r in idx.dictionary.collect()}
    assert "beta" in terms and "alpha" not in terms


def test_partitioning_invariance(spark, small_pdf, small_oracle):
    """Same index content at different partition counts — the reference's
    sharding invariant (sharding_test.clj:27-51)."""
    df = to_spark(spark, small_pdf)
    for n_part in (1, 3):
        idx = build_index(
            df, IndexConfig(block_size=16, segment_size=64, num_partitions=n_part)
        )
        got = _decode_all_postings(idx)
        want = {t: dict(p) for t, p in small_oracle.postings.items()}
        assert got == want, f"postings differ at num_partitions={n_part}"


def test_persist_and_stats_memoized(spark, small_transcripts, small_oracle):
    """BzzzIndex.persist pins the frames; scalar_stats collects once.

    Serving-mode analog of the reference's long-lived IndexSearcher
    (src/bzzz/index_directory.clj:129-132): a persisted snapshot must
    answer identically to a cold one."""
    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.query import ast
    from bzzz_spark.query.executor import search

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=2),
    )
    cold = [
        (r["docid"], round(r["score"], 6))
        for r in search(idx, ast.Term("the"), size=10).collect()
    ]
    idx.persist()
    try:
        n1 = idx.scalar_stats()
        # memoized: second call must not re-collect (same tuple object)
        assert idx.scalar_stats() is idx._stats
        assert n1[0] == small_oracle.n_docs
        assert idx.dictionary.storageLevel.useMemory
        assert idx.postings.storageLevel.useMemory
        hot = [
            (r["docid"], round(r["score"], 6))
            for r in search(idx, ast.Term("the"), size=10).collect()
        ]
        assert hot == cold
    finally:
        idx.unpersist()
    assert not idx.postings.storageLevel.useMemory
