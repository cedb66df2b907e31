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
        IndexConfig(
            block_size=16, segment_size=64, num_partitions=4,
            merge_mode="shuffle",
        ),
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


def test_aligned_index_keeps_layout(tmp_path, small_index):
    """Aligned-merge segment numbering is not docid//segment_size, so
    the relabel must not apply."""
    out = str(tmp_path / "aligned")
    write_index(small_index, out)
    assert load_config(out).segment_size == small_index.config.segment_size


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
                    block_size=8, segment_size=16, merge_mode="shuffle"),
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
