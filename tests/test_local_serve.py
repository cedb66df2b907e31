"""In-process serving parity: bzzz_spark.serve.local answers queries
from the persisted index layout with ZERO Spark jobs, rank- and
score-identical to the Spark engine — one planner (wand.plan_candidates),
one kernel family, two block-fetch runtimes.

This is the deployment shape of the reference: a long-lived process
holding hot in-process searchers (src/bzzz/index_directory.clj:129-132),
where a query costs microseconds of scheduling instead of a Spark job's
driver round-trip.  Spark builds the index; LocalIndex serves it."""

import math

import pandas as pd
import pytest

from bzzz_spark.query import ast
from bzzz_spark.query.executor import search
from bzzz_spark.serve.local import LocalIndex, local_search


@pytest.fixture(scope="module")
def served(spark, small_transcripts, tmp_path_factory):
    """One persisted index (positions + dv + extra field), opened by
    BOTH runtimes: the Spark reader and the in-process reader."""
    from bzzz_spark.build.checkpoint import build_and_write, read_index
    from bzzz_spark.build.indexer import IndexConfig

    out = str(tmp_path_factory.mktemp("served_idx"))
    cfg = IndexConfig(
        block_size=16, segment_size=64, num_partitions=4,
        store_positions=True,
        extra_fields=(("role", "keyword"),),
        docvalue_cols=("turn_idx",),
    )
    build_and_write(small_transcripts, out, cfg, n_chunks=3)
    sidx = read_index(spark, out)
    sidx.postings.cache().count()
    return sidx, LocalIndex(out)


SHAPES = [
    ast.Term("error"),
    ast.Term("zz_never_a_term"),
    ast.Bool(must=[ast.Term("error"), ast.Term("data")]),
    ast.Bool(must=[ast.Term("error")], must_not=[ast.Term("the")]),
    ast.Bool(
        should=[ast.Term("error"), ast.Term("query"), ast.Term("scan")],
        minimum_should_match=2,
    ),
    ast.Bool(
        must=[ast.Term("error")],
        should=[ast.Term("data"), ast.Phrase(["the", "error"])],
    ),
    ast.Phrase(["the", "error"]),
    ast.Phrase(["error", "the"], slop=3),
    ast.Wildcard("err*"),
    ast.Fuzzy("erorr", max_edits=2),
    ast.Bool(must=[ast.Term("error"), ast.Range("turn_idx", min=2, max=9)]),
    ast.Filtered(
        query=ast.Term("error"), filter=ast.Term("assistant", "role")
    ),
    ast.DisMax(
        queries=[ast.Term("error"), ast.Term("data")], tie_breaker=0.3
    ),
    ast.ConstantScore(ast.Term("error"), boost=2.0),
    ast.Bool(must=[
        ast.Bool(should=[ast.Term("error"), ast.Term("data")],
                 minimum_should_match=1),
        ast.Term("the"),
    ]),
]
# shapes without a block-max kernel: the exhaustive plan
EXHAUSTIVE = {
    "or_of_and": ast.Bool(should=[
        ast.Term("error"), ast.Bool(must=[ast.Term("data"), ast.Term("the")]),
    ]),
    "and_not_and": ast.Bool(must=[ast.Term("error")], must_not=[
        ast.Bool(must=[ast.Term("the"), ast.Term("data")]),
    ]),
    "and_not_phrase": ast.Bool(must=[ast.Term("the")],
                               must_not=[ast.Phrase(["the", "error"])]),
    "match_all": ast.MatchAll(boost=2.0),
    "range": ast.Range("turn_idx", min=2, max=5),
    "range_no_docvalues": ast.Range("dl", min=30),
    "no_zero_score": ast.NoZeroScore(ast.Bool(should=[
        ast.Term("error"), ast.Term("data", boost=0.0),
    ])),
    "no_norm": ast.NoNorm(ast.Bool(should=[
        ast.Term("error"), ast.Phrase(["the", "error"]),
    ])),
    "random_score": ast.RandomScore(ast.Term("error"), base=1.0, seed=7),
    "dismax_of_bool": ast.DisMax(queries=[
        ast.Term("error"), ast.Bool(must=[ast.Term("the"), ast.Term("data")]),
    ], tie_breaker=0.3),
    "constant_score_of_and": ast.ConstantScore(
        ast.Bool(must=[ast.Term("error"), ast.Term("the")]), boost=3.0),
    "negative_boost": ast.Term("error", boost=-1.5),
    "filtered_not_phrase": ast.Filtered(
        query=ast.Term("error"), filter=ast.Bool(
            must=[ast.Term("the")], must_not=[ast.Phrase(["the", "error"])],
        )),
    "field_term": ast.Term("assistant", "role"),
}
SHAPE_IDS = [type(n).__name__ for n in SHAPES] + list(EXHAUSTIVE)
SHAPES += list(EXHAUSTIVE.values())


@pytest.fixture(scope="module")
def served_oracle(small_pdf):
    """The oracle of the served index: its extra field included."""
    from bzzz_spark.oracle.pyoracle import PyIndex

    return PyIndex(small_pdf.to_dict("records"),
                   extra_fields=(("role", "keyword"),))


def _hits(df):
    return [(r["docid"], r["score"]) for r in df.collect()]


def _lhits(pdf):
    return list(zip(pdf["docid"].tolist(), pdf["score"].tolist()))


def _assert_same(got, want, node):
    assert [d for d, _ in got] == [d for d, _ in want], f"rank: {node}"
    for (_, g), (_, w) in zip(got, want):
        assert math.isclose(g, w, rel_tol=1e-9), f"score: {node}"


@pytest.mark.parametrize("node", SHAPES, ids=SHAPE_IDS)
def test_local_matches_spark(served, node):
    sidx, lix = served
    want = _hits(search(sidx, node, size=10))
    got = _lhits(local_search(lix, node, size=10))
    _assert_same(got, want, node)


def test_batch_matches_local_exactly(served):
    """search_many on the Spark reader and local_search on the
    in-process reader of one on-disk index run the same plans on the
    same blocks (and docs): docids and scores are equal, not merely
    close — for SHAPES and the batch tests' BATCH."""
    from bzzz_spark.query.batch import search_many
    from tests.test_batch import BATCH

    sidx, lix = served
    queries = {**{str(i): n for i, n in enumerate(SHAPES)}, **BATCH}
    rows = search_many(sidx, queries, size=10).collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    for qid, node in queries.items():
        want = _lhits(local_search(lix, node, size=10))
        assert got.get(qid, []) == want, node


def test_local_paging_matches_spark(served):
    sidx, lix = served
    node = ast.Term("the")
    for page in (0, 1, 3):
        want = _hits(search(sidx, node, size=5, page=page))
        got = _lhits(local_search(lix, node, size=5, page=page))
        _assert_same(got, want, (node, page))


def test_local_parses_query_strings(served):
    sidx, lix = served
    q = '"stack trace" AND error'
    want = _hits(search(sidx, q, size=10))
    got = _lhits(local_search(lix, q, size=10))
    _assert_same(got, want, q)


def test_local_zero_spark_jobs(spark, served):
    """The whole point: a hot local query launches NO Spark job."""
    _sidx, lix = served
    local_search(lix, ast.Term("error"), size=10)  # warm caches
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("local-serve-probe", "probe", True)
    try:
        local_search(lix, ast.Term("error"), size=10)
        local_search(
            lix, ast.Bool(must=[ast.Term("error"), ast.Term("data")]), size=10
        )
    finally:
        sc.setJobGroup(None, None, False)
    assert len(tracker.getJobIdsForGroup("local-serve-probe")) == 0


def test_local_unknown_field_raises(served):
    _sidx, lix = served
    with pytest.raises(ValueError, match="unindexed field"):
        local_search(lix, ast.Term("x", "no_such_field"))
    for rng in (ast.Range("no_such_field", min=1), ast.Range("ts", min=0),
                ast.Range("role", min=3), ast.Range("turn_idx", max="3")):
        with pytest.raises(ValueError, match=f"range on field '{rng.field_name}'"):
            local_search(lix, rng)


def test_local_unsupported_shape_raises(served):
    _sidx, lix = served
    node = ast.CustomScore(query=ast.Term("error"), expression="_score * 2")
    with pytest.raises(ValueError, match="serving family"):
        local_search(lix, node)


def test_local_fetch_docs_stored_fields(served):
    sidx, lix = served
    top = local_search(lix, ast.Term("error"), size=5)
    docids = top["docid"].tolist()
    got = lix.fetch_docs(docids, columns=["docid", "conv_id", "turn_idx"])
    want = {
        r["docid"]: (r["conv_id"], r["turn_idx"])
        for r in sidx.docs.select("docid", "conv_id", "turn_idx")
        .filter(sidx.docs["docid"].isin(docids)).collect()
    }
    assert len(got) == len(docids)
    for row in got.itertuples(index=False):
        assert want[row.docid] == (row.conv_id, row.turn_idx)


def test_checkpoint_build_inlines_docvalues(served):
    """Regression: build_and_write dropped cfg.docvalue_cols from the
    encoder's input projection (KeyError in the block encoder) — the
    dv columns must round-trip into the on-disk blocks and serve range
    conjunctions on both runtimes."""
    sidx, lix = served
    assert "dv_turn_idx" in lix.postings.columns
    node = ast.Bool(must=[
        ast.Term("the"), ast.Range("turn_idx", min=1, max=4)
    ])
    want = _hits(search(sidx, node, size=10))
    got = _lhits(local_search(lix, node, size=10))
    _assert_same(got, want, node)
    assert got, "range conjunction should match something in the fixture"


def test_write_index_serving_handoff(spark, small_transcripts,
                                      small_oracle, tmp_path):
    """Fast build (no checkpointing) → write_index →
    LocalIndex: the build-on-Spark / serve-in-process handoff.  Hits
    must match the oracle, and the phrase must actually match docs (a
    0-row parity check proves nothing)."""
    from bzzz_spark.build.checkpoint import read_index, write_index
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    store_positions=True, docvalue_cols=("turn_idx",)),
    )
    out = str(tmp_path / "wix")
    write_index(idx, out)
    lix = LocalIndex(out)
    ridx = read_index(spark, out)
    for node in [
        ast.Term("error"),
        ast.Phrase(["the", "error"]),
        ast.Bool(must=[ast.Term("error"),
                       ast.Range("turn_idx", min=2, max=9)]),
    ]:
        want = small_oracle.search(node, size=10)
        got = _lhits(local_search(lix, node, size=10))
        rt = _hits(search(ridx, node, size=10))
        assert [d for d, _ in got] == [d for d, _ in want], node
        assert [d for d, _ in rt] == [d for d, _ in want], node
        for (_, g), (_, w) in zip(got, want):
            assert math.isclose(g, w, rel_tol=1e-6), node
    assert local_search(lix, ast.Phrase(["the", "error"]), size=10).shape[0] > 0


def test_block_cache_transparent(served, tmp_path_factory):
    """The hot-term LRU block cache changes block ORDER in the fetched
    frame (per-tid concat vs parquet order) — results must not care,
    nor must evictions under a tiny byte budget, which the cache must
    keep to."""
    sidx, lix = served
    cold = LocalIndex(lix.out_dir, max_cached_bytes=0)
    budget = 4096
    tiny = LocalIndex(lix.out_dir, max_cached_bytes=budget)
    for other in (cold, tiny):
        for node in SHAPES:
            a = local_search(lix, node, size=10)
            b = local_search(other, node, size=10)
            assert a["docid"].tolist() == b["docid"].tolist(), node
            assert (a["score"] - b["score"]).abs().max() <= 1e-12 or len(a) == 0
            held = sum(size for _cols, size in tiny._block_cache.values())
            assert held == tiny._cached_bytes <= budget, node
        # a second pass over the SAME shapes must serve from cache and agree
        for node in SHAPES:
            a = local_search(lix, node, size=10)
            b = local_search(other, node, size=10)
            assert a["docid"].tolist() == b["docid"].tolist(), node


def test_refresh_picks_up_new_generation(spark, small_transcripts,
                                          tmp_path):
    """S9 serving analog: after a rebuild into the same directory,
    refresh() opens the new generation (and is a no-op before one)."""
    import time as _time

    from pyspark.sql import functions as F

    from bzzz_spark.build.checkpoint import write_index
    from bzzz_spark.build.indexer import IndexConfig, build_index

    cfg = IndexConfig(block_size=16, segment_size=64, num_partitions=4)
    out = str(tmp_path / "gen")
    write_index(build_index(small_transcripts, cfg), out)
    lix = LocalIndex(out)
    before = local_search(lix, ast.Term("error"), size=10)
    assert lix.refresh() is False
    # new generation: the corpus with one turn's text rewritten
    _time.sleep(0.05)  # ensure a distinct manifest mtime
    changed = small_transcripts.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == F.lit("conv000000"))
            & (F.col("turn_idx") == 0),
            F.lit("zz_refresh_marker only text"),
        ).otherwise(F.col("text")),
    )
    write_index(build_index(changed, cfg), out)
    assert lix.refresh() is True
    got = local_search(lix, ast.Term("zz_refresh_marker"), size=10)
    assert len(got) == 1
    again = local_search(lix, ast.Term("error"), size=10)
    assert len(again) == len(before)


def test_local_matches_oracle_fuzz(served, served_oracle):
    """Score parity against the THIRD engine (the pure-Python oracle)
    over a mixed battery — not just Spark-vs-local agreement."""
    for node in SHAPES:
        want = served_oracle.search(node, size=10)
        got = _lhits(local_search(served[1], node, size=10))
        assert [d for d, _ in got] == [d for d, _ in want], node
        for (_, g), (_, w) in zip(got, want):
            assert math.isclose(g, w, rel_tol=1e-9), node


@pytest.fixture(scope="module")
def thin_segments(small_transcripts, tmp_path_factory):
    """The served fixture's config written with build-size segments
    (64 docs), so every query's blocks span several segments."""
    from bzzz_spark.build.checkpoint import write_index
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(small_transcripts, IndexConfig(
        block_size=16, segment_size=64, num_partitions=4,
        store_positions=True,
        extra_fields=(("role", "keyword"),),
        docvalue_cols=("turn_idx",),
    ))
    out = str(tmp_path_factory.mktemp("thin_idx"))
    write_index(idx, out, serving_segment_size=None)
    return LocalIndex(out)


@pytest.mark.parametrize("node", SHAPES, ids=SHAPE_IDS)
def test_kernel_splits_segments(thin_segments, served_oracle, node):
    """One kernel call over a multi-segment block set (and docs) returns
    exactly the rows of one call per segment, concatenated in segment
    order."""
    from bzzz_spark.query.evaluate import plan
    from bzzz_spark.query.rewrite import normalize

    lix = thin_segments
    p = plan(lix, normalize(node), 10)
    if not p.empty:
        blocks = lix.fetch_blocks(p.tids)
        docs = lix.doc_frame(p.doc_cols)
        seg = lix.config.segment_size
        segs = set(blocks["segment"].tolist())
        if docs is not None:
            segs |= set((docs["docid"] // seg).tolist())
        assert len(segs) > 1, node
        whole = p.kernel(blocks, docs)
        per = pd.concat(
            [p.kernel(blocks[blocks["segment"] == g],
                      None if docs is None
                      else docs[docs["docid"] // seg == g])
             for g in sorted(segs)],
            ignore_index=True,
        )
        assert whole["docid"].tolist() == per["docid"].tolist(), node
        assert whole["score"].tolist() == per["score"].tolist(), node
    want = served_oracle.search(node, size=10)
    got = _lhits(local_search(lix, node, size=10))
    assert [d for d, _ in got] == [d for d, _ in want], node
    for (_, g), (_, w) in zip(got, want):
        assert math.isclose(g, w, rel_tol=1e-9), node
