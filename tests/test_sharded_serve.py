"""Multi-shard serving parity (serve/scatter.py): N hash-routed shards
+ scatter/gather merge must answer hit-for-hit — scores, ties, paging,
sorts, facets, totals — exactly like ONE index over the same corpus.

This strengthens the reference's sharding invariant
(test/bzzz/sharding_test.clj:27-78: sharding must not change results)
to bit-exactness: build_sharded encodes every shard against GLOBAL
collection stats (docids, df, n_docs, avgdl), so per-shard Lucene-style
idf drift — which the reference accepts — cannot occur, and the merge
(index_search.clj:115-155,209-244 semantics) reproduces the
single-index ordering including docid tie-breaks."""

import math

import pytest

from bzzz_spark.query import ast
from bzzz_spark.query.executor import facet_counts, search, total_hits
from bzzz_spark.serve.local import (
    LocalIndex,
    local_facet_counts,
    local_search,
    local_sorted_search,
)
from bzzz_spark.serve.scatter import ShardedIndex, build_sharded, open_serving
from tests.test_local_serve import SHAPES


@pytest.fixture(scope="module")
def fleet(spark, small_transcripts, tmp_path_factory):
    """One single-index build + the same corpus sharded 2 and 5 ways,
    all with positions + dv + extra field so every SHAPE runs."""
    from bzzz_spark.build.checkpoint import build_and_write, read_index
    from bzzz_spark.build.indexer import IndexConfig

    base = tmp_path_factory.mktemp("sharded_fleet")
    cfg = IndexConfig(
        block_size=16, segment_size=64, num_partitions=4,
        store_positions=True,
        extra_fields=(("role", "keyword"),),
        docvalue_cols=("turn_idx",),
    )
    single_dir = str(base / "single")
    build_and_write(small_transcripts, single_dir, cfg, n_chunks=2)
    sidx = read_index(spark, single_dir)
    sidx.postings.cache().count()
    single = LocalIndex(single_dir)
    sharded = {}
    for n in (2, 5):
        d = str(base / f"n{n}")
        build_sharded(small_transcripts, d, n, cfg)
        sharded[n] = ShardedIndex(d)
    return sidx, single, sharded


def _lhits(pdf):
    return list(zip(pdf["docid"].tolist(), pdf["score"].tolist()))


def _close(a, b):
    assert len(a) == len(b), (a, b)
    for (da, sa), (db, sb) in zip(a, b):
        assert da == db, (a, b)
        assert math.isclose(sa, sb, rel_tol=1e-9, abs_tol=1e-12), (a, b)


def _decoded_postings(li):
    """[(term_id, docid, tf)] decoded from every block of one index,
    and the summed block counts."""
    from bzzz_spark.build.codec import decode_block

    t = li._post_ds.to_table(
        columns=["term_id", "first_docid", "count", "doc_gaps", "tfs"]
    ).to_pylist()
    out = []
    for r in t:
        d, tf = decode_block(
            r["first_docid"], r["count"], r["doc_gaps"], r["tfs"]
        )
        out.extend(zip([r["term_id"]] * len(d), d.tolist(), tf.tolist()))
    return out, sum(r["count"] for r in t)


@pytest.mark.parametrize("n", [2, 5])
def test_shards_cover_the_corpus(fleet, n):
    """Routing partitions the corpus: shard doc counts sum to the
    total, global stats are identical on every shard.  At block level
    the one-pass encode keeps every block inside its shard: each
    decoded docid routes to the shard holding it, and the shards'
    postings together are exactly the single index's."""
    from bzzz_spark.serve.scatter import shard_id

    sidx, single, sharded = fleet
    got = sum(s._docs_ds.count_rows() for s in sharded[n].shards)
    assert got == single._docs_ds.count_rows()
    stats = {s.scalar_stats() for s in sharded[n].shards}
    assert stats == {single.scalar_stats()}

    route = {
        r["docid"]: r["shard"]
        for r in sidx.docs.select(
            "docid", shard_id(sharded[n].route_col, n).alias("shard")
        ).collect()
    }
    union, n_blocks_postings = {}, 0
    for i, s in enumerate(sharded[n].shards):
        rows, count = _decoded_postings(s)
        assert {route[d] for _t, d, _tf in rows} == {i}
        for t, d, tf in rows:
            union.setdefault(t, {})[d] = tf
        n_blocks_postings += count
    want_rows, want_count = _decoded_postings(single)
    want = {}
    for t, d, tf in want_rows:
        want.setdefault(t, {})[d] = tf
    assert union == want
    # no posting sits in two shards' blocks: the dict above would hide it
    assert n_blocks_postings == sum(len(v) for v in union.values())
    assert n_blocks_postings == want_count


@pytest.mark.parametrize("n", [2, 5])
def test_hit_parity_whole_headline_set(fleet, n):
    _, single, sharded = fleet
    for node in SHAPES:
        want = _lhits(local_search(single, node, size=10))
        got = _lhits(sharded[n].search(node, size=10))
        _close(got, want)


@pytest.mark.parametrize("n", [2, 5])
def test_paging_parity(fleet, n):
    _, single, sharded = fleet
    node = ast.Term("the")
    for page in (0, 1, 3):
        want = _lhits(local_search(single, node, size=7, page=page))
        got = _lhits(sharded[n].search(node, size=7, page=page))
        _close(got, want)


@pytest.mark.parametrize("n", [2, 5])
def test_total_hits_parity(fleet, n):
    sidx, _, sharded = fleet
    for q in (
        ast.Term("error"),
        ast.Term("zz_never_a_term"),
        ast.Bool(must=[ast.Term("error"), ast.Term("data")]),
    ):
        assert sharded[n].total_hits(q) == total_hits(sidx, q)


SORTS = [
    ["ts"],
    [("ts", "desc")],
    [("role", "asc"), ("ts", "desc")],
    [("_score", "desc")],
    ["_doc"],
]


@pytest.mark.parametrize("n", [2, 5])
def test_sorted_parity_vs_single_local(fleet, n):
    _, single, sharded = fleet
    node = ast.Term("error")
    for sort in SORTS:
        want = local_sorted_search(single, node, sort, size=8)
        got = sharded[n].sorted_search(node, sort, size=8)
        assert got["docid"].tolist() == want["docid"].tolist(), sort
        for a, b in zip(got["score"], want["score"]):
            assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def test_sorted_parity_vs_spark_path(fleet):
    """The serving sort comparator == executor.sorted_search (T3/T4
    semantics: typed sorts, _score/_doc, reverse, nulls last, docid
    tiebreak)."""
    from bzzz_spark.query.executor import sorted_search

    sidx, single, sharded = fleet
    node = ast.Term("error")
    for sort in SORTS:
        want = [r["docid"] for r in sorted_search(sidx, node, sort, size=8).collect()]
        got_local = local_sorted_search(single, node, sort, size=8)
        got_shard = sharded[2].sorted_search(node, sort, size=8)
        assert got_local["docid"].tolist() == want, sort
        assert got_shard["docid"].tolist() == want, sort


def test_sorted_pages_and_sort_values(fleet):
    _, single, sharded = fleet
    node = ast.Term("the")
    a = sharded[5].sorted_search(node, [("ts", "desc")], size=5, page=1)
    b = local_sorted_search(single, node, [("ts", "desc")], size=5, page=1)
    assert a["docid"].tolist() == b["docid"].tolist()
    sv = local_sorted_search(
        single, node, [("ts", "desc")], size=3, with_sort_values=True
    )
    assert list(sv["_sort"][0][0].keys()) == ["name", "value", "reverse"]
    assert sv["_sort"][0][0]["name"] == "ts"
    assert sv["_sort"][0][0]["reverse"] is True


def test_expression_sorts_route_to_spark(fleet):
    _, single, sharded = fleet
    with pytest.raises(ValueError, match="Spark runtime"):
        sharded[2].sorted_search(
            ast.Term("error"), [{"expression": "ts + 1", "order": "desc"}]
        )


@pytest.mark.parametrize("n", [2, 5])
def test_facet_parity_exact_merge(fleet, n):
    """Cross-shard facet merge is EXACT (counts summed before the cut),
    matching the Spark path's global groupBy — strictly better than the
    reference's documented post-cut approximation
    (index_search.clj:186-204)."""
    sidx, single, sharded = fleet
    for q in (ast.Term("error"), ast.Bool(should=[ast.Term("the")])):
        want = [
            (r["role"], r["cnt"])
            for r in facet_counts(sidx, q, "role", size=5).collect()
        ]
        got_local = local_facet_counts(single, q, "role", size=5)
        got_shard = sharded[n].facet_counts(q, "role", size=5)
        assert list(zip(got_local["label"], got_local["cnt"])) == want
        assert list(zip(got_shard["label"], got_shard["cnt"])) == want


def test_facet_small_size_cut_still_exact(fleet):
    """The failure mode of post-cut merges: size=1 must return the
    globally best label even if no single shard ranks it first."""
    sidx, _, sharded = fleet
    q = ast.Term("the")
    want = [
        (r["role"], r["cnt"])
        for r in facet_counts(sidx, q, "role", size=1).collect()
    ]
    got = sharded[5].facet_counts(q, "role", size=1)
    assert list(zip(got["label"], got["cnt"])) == want


@pytest.mark.parametrize("n", [2, 5])
def test_fields_attachment(fleet, n):
    _, single, sharded = fleet
    got = sharded[n].search(ast.Term("error"), size=5, fields=["role", "ts"])
    assert {"role", "ts"}.issubset(got.columns)
    ref = single.fetch_docs(got["docid"].tolist(), columns=["docid", "role"])
    merged = got.merge(ref, on="docid", suffixes=("", "_ref"))
    assert (merged["role"] == merged["role_ref"]).all()


def test_open_serving_dispatch(fleet):
    _, single, sharded = fleet
    assert isinstance(open_serving(sharded[2].out_dir), ShardedIndex)
    assert isinstance(open_serving(single.out_dir), LocalIndex)
