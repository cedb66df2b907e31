"""write_index serving-segment preset: fat segments are the measured
serving sweet spot (512k-doc segments halve hot p50 at 10× base), so
serving writes re-segment by default — pure metadata (segment :=
docid // new_size merges whole old segments) with bit-identical query
results, pinned here."""

import math

import pytest

from bzzz_spark.build.checkpoint import (
    SERVING_SEGMENT_SIZE,
    load_config,
    write_index,
)
from bzzz_spark.query import ast
from bzzz_spark.query.executor import search
from bzzz_spark.serve.local import LocalIndex, local_search


@pytest.fixture(scope="module")
def shuffle_index(spark, small_transcripts):
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4),
    )
    idx.postings.cache().count()
    return idx


def test_serving_write_resegments_by_default(tmp_path, shuffle_index):
    out = str(tmp_path / "fat")
    write_index(shuffle_index, out)
    cfg = load_config(out)
    assert cfg.segment_size == SERVING_SEGMENT_SIZE
    li = LocalIndex(out)
    n_docs, _ = li.scalar_stats()
    segs = set()
    for tid in (0, 1, 2):
        blocks = li.fetch_blocks([tid])
        segs.update(blocks["segment"].tolist())
    want_n = math.ceil(n_docs / SERVING_SEGMENT_SIZE)
    assert segs and len(segs) <= want_n
    assert max(segs) < want_n


def test_serving_write_opt_out_keeps_build_segments(tmp_path, shuffle_index):
    out = str(tmp_path / "thin")
    write_index(shuffle_index, out, serving_segment_size=None)
    assert load_config(out).segment_size == 64


def test_resegmented_results_identical(tmp_path, shuffle_index, small_oracle):
    """Fat-segment serving returns exactly the thin-segment (and Spark
    path) hits — relabeling only merges kernel task granularity."""
    fat, thin = str(tmp_path / "fat"), str(tmp_path / "thin")
    write_index(shuffle_index, fat)
    write_index(shuffle_index, thin, serving_segment_size=None)
    lfat, lthin = LocalIndex(fat), LocalIndex(thin)
    for node in (
        ast.Term("error"),
        ast.Bool(must=[ast.Term("error"), ast.Term("data")]),
        ast.Bool(should=[ast.Term("error"), ast.Term("the")]),
        ast.Wildcard("err*"),
        ast.Bool(must=[ast.Term("error")], must_not=[ast.Term("the")]),
    ):
        a = local_search(lfat, node, size=10)
        b = local_search(lthin, node, size=10)
        assert a["docid"].tolist() == b["docid"].tolist()
        assert a["score"].tolist() == pytest.approx(
            b["score"].tolist(), rel=1e-12
        )
        spark_hits = [
            r["docid"] for r in search(shuffle_index, node, size=10).collect()
        ]
        assert a["docid"].tolist() == spark_hits


def test_facet_array_and_analyzer_semantics(spark, tmp_path):
    """Array facet columns count per element with null rows skipped
    (facet_counts_multi's explode semantics) and use_analyzer casts
    non-strings before analysis — including when a null leads the
    matched set (the dispatch must not depend on sel[0])."""
    from bzzz_spark.build.indexer import IndexConfig, build_index

    rows = [
        (0, "alpha common", None, 7),
        (1, "beta common", ["x", "y"], 7),
        (2, "gamma common", ["y"], 8),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, tags array<string>, n long"
    )
    idx = build_index(
        df,
        IndexConfig(key_cols=("doc_id",), text_col="text", ts_col=None,
                    block_size=8, segment_size=16),
    )
    out = str(tmp_path / "arrfacet")
    write_index(idx, out)
    li = LocalIndex(out)
    from bzzz_spark.serve.local import local_facet_counts

    fc = local_facet_counts(li, ast.Term("common"), "tags", size=10)
    assert list(zip(fc["label"], fc["cnt"])) == [("y", 2), ("x", 1)]
    # numeric column under use_analyzer: cast to string then analyze
    fa = local_facet_counts(
        li, ast.Term("common"), "n", size=10, use_analyzer=True
    )
    assert list(zip(fa["label"], fa["cnt"])) == [("7", 2), ("8", 1)]


def test_sharded_shard_column_collision(spark, tmp_path):
    """A stored column literally named 'shard' must not be clobbered by
    the coordinator's routing column."""
    from bzzz_spark.build.indexer import IndexConfig
    from bzzz_spark.serve.scatter import ShardedIndex, build_sharded

    rows = [(i, f"tok{i % 3} common", f"s{i % 2}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string, shard string")
    out = str(tmp_path / "collide")
    build_sharded(
        df, out, 2,
        IndexConfig(key_cols=("doc_id",), text_col="text", ts_col=None,
                    block_size=8, segment_size=16),
    )
    si = ShardedIndex(out)
    got = si.search(ast.Term("common"), size=12, fields=["shard"])
    # the stored column survives under its own name; routing stays __shard
    assert set(got["shard"]) == {"s0", "s1"}
    assert "__shard" in got.columns
    assert set(got["__shard"]) <= {0, 1}


@pytest.fixture(scope="module")
def three_shards(spark, small_transcripts, tmp_path_factory):
    from bzzz_spark.build.indexer import IndexConfig
    from bzzz_spark.serve.scatter import ShardedIndex, build_sharded

    out = str(tmp_path_factory.mktemp("three_shards"))
    build_sharded(
        small_transcripts, out, 3,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4),
    )
    return ShardedIndex(out)


def test_sharded_plans_each_query_once(three_shards, monkeypatch):
    """The shards of one build share its dictionary and stats, so a
    query is planned once, on shard 0, whatever the shard count: no
    other shard is asked for a dictionary lookup or an expansion."""
    from bzzz_spark.query import wand

    si = three_shards
    planned = []
    real_plan = wand.plan_candidates

    def plan_spy(index, node, k):
        planned.append(index)
        return real_plan(index, node, k)

    monkeypatch.setattr(wand, "plan_candidates", plan_spy)
    asked = [0] * len(si.shards)
    for i, s in enumerate(si.shards):
        for name in ("lookup_terms", "expand_candidates"):
            def spy(*a, _i=i, _real=getattr(s, name)):
                asked[_i] += 1
                return _real(*a)

            monkeypatch.setattr(s, name, spy)
    q = ast.Bool(must=[ast.Term("the"), ast.Term("error")])
    calls = {
        "search": lambda: si.search(q, size=5),
        "search_wildcard": lambda: si.search(
            ast.Bool(must=[ast.Term("the"), ast.Wildcard("err*")]), size=5
        ),
        "total_hits": lambda: si.total_hits(q),
        "facet_counts": lambda: si.facet_counts(q, "role", size=5),
        "sorted_search": lambda: si.sorted_search(q, ["ts"], size=5),
    }
    for name, call in calls.items():
        planned.clear()
        call()
        assert planned == [si.shards[0]], name
    assert asked[0] > 0
    assert asked[1:] == [0] * (len(si.shards) - 1)


def test_must_not_only_bool_is_empty(tmp_path, shuffle_index, three_shards):
    """A Bool of must_not clauses alone matches nothing (the executor's
    answer): the serving tier returns an empty page, not an error."""
    out = str(tmp_path / "single")
    write_index(shuffle_index, out)
    node = ast.Bool(must_not=[ast.Term("the")])
    assert len(local_search(LocalIndex(out), node, size=10)) == 0
    assert len(three_shards.search(node, size=10)) == 0
    assert search(shuffle_index, node, size=10).count() == 0


def test_mixed_build_root_raises(spark, small_transcripts, tmp_path,
                                 three_shards):
    """A shard copied in from another build cannot share shard 0's
    plan: opening the root names it instead of serving through foreign
    term ids.  Two donors: a build of another corpus, and a build of
    the same corpus and config with another shard count (its
    dictionary, stats and config are identical; only the build id
    tells)."""
    import shutil

    from bzzz_spark.build.indexer import IndexConfig
    from bzzz_spark.serve.scatter import ShardedIndex, build_sharded

    rows = [(i, f"tok{i % 3} common") for i in range(12)]
    other_corpus = (
        spark.createDataFrame(rows, "doc_id long, text string"),
        IndexConfig(key_cols=("doc_id",), text_col="text", ts_col=None,
                    block_size=8, segment_size=16),
    )
    same_corpus = (
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4),
    )
    for name, (df, cfg) in {"other_corpus": other_corpus,
                            "other_shard_count": same_corpus}.items():
        out = str(tmp_path / name)
        build_sharded(df, out, 2, cfg)
        ShardedIndex(out)  # one build: opens
        shutil.rmtree(f"{out}/shard=1")
        shutil.copytree(three_shards.shards[1].out_dir, f"{out}/shard=1")
        with pytest.raises(ValueError, match="shard=1"):
            ShardedIndex(out)
