"""Resumable checkpointed build (FIXTURES.md §5 resume invariance;
reference analog: rollback-on-error loop, core_test.clj:699-714)."""

import json
import math
import os

import numpy as np
import pytest

from bzzz_spark.build.checkpoint import (
    SERVING_SEGMENT_SIZE,
    build_and_write,
    load_config,
    read_index,
    write_index,
)
from bzzz_spark.build.indexer import IndexConfig, build_index
from bzzz_spark.fixtures import to_spark
from bzzz_spark.query import ast
from bzzz_spark.query.executor import search

CFG = dict(block_size=16, segment_size=64, num_partitions=4)


def _postings_rows(postings_df):
    return sorted(
        (
            r["term_id"], r["segment"], r["block_id"], r["first_docid"],
            r["count"], bytes(r["doc_gaps"]), bytes(r["tfs"]),
        )
        for r in postings_df.collect()
    )


def test_full_build_write_read_roundtrip(spark, small_pdf, small_oracle, tmp_path):
    df = to_spark(spark, small_pdf)
    m = build_and_write(df, str(tmp_path / "idx"), IndexConfig(**CFG), n_chunks=3)
    assert m["complete"]
    assert m["stages"]["docs"]["n_docs"] == small_oracle.n_docs
    assert m["stages"]["docs"]["input_rows"] == len(small_pdf)
    idx = read_index(spark, str(tmp_path / "idx"))
    n, avgdl = idx.scalar_stats()
    assert n == small_oracle.n_docs
    assert abs(avgdl - small_oracle.avgdl) < 1e-9
    # identical postings to the in-memory build, written with the same
    # serving segment policy
    write_index(build_index(df, IndexConfig(**CFG)), str(tmp_path / "mem"))
    mem = read_index(spark, str(tmp_path / "mem"))
    assert _postings_rows(idx.postings) == _postings_rows(mem.postings)

    def content(ix):
        from bzzz_spark.build.codec import decode_block

        out = {}
        for r in ix.postings.collect():
            d, tf = decode_block(
                r["first_docid"], r["count"], r["doc_gaps"], r["tfs"]
            )
            out.setdefault(r["term_id"], {}).update(
                dict(zip(d.tolist(), tf.tolist()))
            )
        return out

    # duplicate-posting detection: dict.update() above would silently
    # dedupe a double-emitted (term_id, docid), so the decoded posting
    # count must equal the sum of block counts
    def n_postings(ix):
        return sum(r["count"] for r in ix.postings.select("count").collect())

    assert n_postings(idx) == sum(
        len(v) for v in content(idx).values()
    )
    # and rank parity through the on-disk index
    got = [
        (r["docid"], r["score"])
        for r in search(idx, ast.Bool(must=[ast.Term("the"), ast.Term("data")]),
                        size=10).collect()
    ]
    want = small_oracle.search(
        ast.Bool(must=[ast.Term("the"), ast.Term("data")]), size=10
    )
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9)


def test_interrupted_build_resumes_bit_identical(spark, small_pdf, tmp_path):
    df = to_spark(spark, small_pdf)
    a, b = str(tmp_path / "interrupted"), str(tmp_path / "oneshot")

    m1 = build_and_write(df, a, IndexConfig(**CFG), n_chunks=3, max_chunks=1)
    assert not m1["complete"]
    assert len(m1["chunks"]) == 1
    with pytest.raises(ValueError, match="incomplete"):
        read_index(spark, a)

    m2 = build_and_write(df, a, IndexConfig(**CFG), n_chunks=3)  # resume
    assert m2["complete"]
    assert len(m2["chunks"]) == 3

    build_and_write(df, b, IndexConfig(**CFG), n_chunks=3)  # uninterrupted
    assert _postings_rows(read_index(spark, a).postings) == _postings_rows(
        read_index(spark, b).postings
    )


def test_resume_skips_completed_chunks(spark, small_pdf, tmp_path):
    df = to_spark(spark, small_pdf)
    out = str(tmp_path / "idx")
    build_and_write(df, out, IndexConfig(**CFG), n_chunks=3, max_chunks=2)
    m = build_and_write(df, out, IndexConfig(**CFG), n_chunks=3)
    # chunk checkpoints recorded once each, with lineage fields
    assert sorted(m["chunks"].keys()) == ["0", "1", "2"]
    for c in m["chunks"].values():
        assert c["n_postings"] > 0 and c["took_sec"] >= 0 and "docids" in c


def test_resume_with_other_n_chunks_rejected(spark, small_pdf, tmp_path):
    """Chunk keys are indices into one chunk plan: resuming with another
    n_chunks would skip chunk 0 of the new plan without writing its
    segments, so it raises like a config mismatch."""
    df = to_spark(spark, small_pdf)
    out = str(tmp_path / "idx")
    build_and_write(df, out, IndexConfig(**CFG), n_chunks=3, max_chunks=1)
    with pytest.raises(ValueError, match="chunk plan mismatch"):
        build_and_write(df, out, IndexConfig(**CFG), n_chunks=2)


def test_fresh_build_drops_earlier_chunks(spark, small_pdf, tmp_path):
    """A fresh build into a directory that holds an earlier build (its
    manifest removed, as Catalog.rebuild_affected_segments does) with
    fewer chunks leaves none of the earlier chunk files behind."""
    df = to_spark(spark, small_pdf)
    a, b = str(tmp_path / "rebuilt"), str(tmp_path / "fresh")
    build_and_write(df, a, IndexConfig(**CFG), n_chunks=3)
    os.remove(os.path.join(a, "manifest.json"))
    build_and_write(df, a, IndexConfig(**CFG), n_chunks=2)
    build_and_write(df, b, IndexConfig(**CFG), n_chunks=2)
    assert _postings_rows(read_index(spark, a).postings) == _postings_rows(
        read_index(spark, b).postings
    )


def _dir_rows(path, key):
    """Every row of one parquet directory (hive partition dirs such as
    chunk=i ignored), sorted by ``key``."""
    import pyarrow.dataset as pads

    rows = pads.dataset(path, format="parquet").to_table().to_pylist()
    return sorted(rows, key=lambda r: tuple(r[k] for k in key))


def _docs_cols(out):
    import pyarrow.dataset as pads

    return pads.dataset(os.path.join(out, "docs"), format="parquet").schema.names


def _assert_one_layout(out):
    """No scratch or build-log directory is left, and docs/ stores
    neither tokens nor segment numbers."""
    assert not os.path.exists(os.path.join(out, "_build"))
    assert not os.path.exists(os.path.join(out, "metrics"))
    assert not {"tokens", "segment"} & set(_docs_cols(out))


def test_both_writers_write_one_layout(spark, small_pdf, tmp_path):
    """The checkpointed driver and write_index(build_index(...)) write
    the same index directory: equal rows in every table, equal docs/
    columns, term-sorted dictionary files."""
    import pyarrow.parquet as pq

    df = to_spark(spark, small_pdf)
    a, b = str(tmp_path / "driver"), str(tmp_path / "write_index")
    build_and_write(df, a, IndexConfig(**CFG))
    write_index(build_index(df, IndexConfig(**CFG)), b)
    keys = {
        "docs": ["docid"], "dictionary": ["term"], "stats": ["n_docs"],
        "postings": ["term_id", "segment", "first_docid"],
    }
    for sub, key in keys.items():
        assert _dir_rows(os.path.join(a, sub), key) == _dir_rows(
            os.path.join(b, sub), key
        ), sub
    assert _docs_cols(a) == _docs_cols(b)
    assert load_config(a) == load_config(b)
    for out in (a, b):
        _assert_one_layout(out)
        d = os.path.join(out, "dictionary")
        for f in os.listdir(d):
            if f.endswith(".parquet"):
                terms = pq.read_table(os.path.join(d, f))["term"].to_pylist()
                assert terms == sorted(terms), f


def test_interrupted_sharded_build_resumes(spark, small_pdf, tmp_path):
    """A sharded build is the same checkpointed driver: interrupted, its
    root does not open; resumed through build_sharded, every shard's
    postings equal an uninterrupted build's."""
    from bzzz_spark.serve.scatter import build_sharded, open_serving

    df = to_spark(spark, small_pdf)
    a, b = str(tmp_path / "interrupted"), str(tmp_path / "oneshot")
    m1 = build_and_write(df, a, IndexConfig(**CFG), max_chunks=1, n_shards=3)
    assert not m1["complete"] and len(m1["chunks"]) == 1
    with pytest.raises(ValueError, match="incomplete"):
        open_serving(a)
    assert build_sharded(df, a, 3, IndexConfig(**CFG))["complete"]
    build_sharded(df, b, 3, IndexConfig(**CFG))
    assert not os.path.exists(os.path.join(a, "_build"))
    for i in range(3):
        sa, sb = os.path.join(a, f"shard={i}"), os.path.join(b, f"shard={i}")
        _assert_one_layout(sa)
        assert _postings_rows(read_index(spark, sa).postings) == _postings_rows(
            read_index(spark, sb).postings
        )
    assert open_serving(a).total_hits(ast.Term("the")) == open_serving(
        b
    ).total_hits(ast.Term("the"))


def test_config_mismatch_rejected(spark, small_pdf, tmp_path):
    df = to_spark(spark, small_pdf)
    out = str(tmp_path / "idx")
    build_and_write(df, out, IndexConfig(**CFG), n_chunks=2, max_chunks=1)
    with pytest.raises(ValueError, match="config mismatch"):
        build_and_write(df, out, IndexConfig(block_size=32, segment_size=64))


def _set_manifest_config(out, **old):
    """Rewrite the manifest as older builds wrote it: with extra config
    keys (k1/b, merge_mode)."""
    p = os.path.join(out, "manifest.json")
    with open(p) as f:
        m = json.load(f)
    m["config"].update(old)
    with open(p, "w") as f:
        json.dump(m, f)


def test_manifest_with_bm25_constants_opens(spark, small_pdf, small_oracle, tmp_path):
    """Manifests that still record k1=1.2/b=0.75 or a merge_mode resume
    and open."""
    from bzzz_spark.serve.local import LocalIndex, local_search

    df = to_spark(spark, small_pdf)
    out = str(tmp_path / "idx")
    build_and_write(df, out, IndexConfig(**CFG), n_chunks=2, max_chunks=1)
    _set_manifest_config(out, k1=1.2, b=0.75, merge_mode="shuffle")
    assert build_and_write(df, out, IndexConfig(**CFG), n_chunks=2)["complete"]
    q = ast.Term("data")
    want = [d for d, _ in small_oracle.search(q, size=5)]
    for old in ({"k1": 1.2, "b": 0.75}, {"merge_mode": "shuffle"},
                {"merge_mode": "aligned"}):
        _set_manifest_config(out, **old)
        assert load_config(out).to_dict() == IndexConfig(
            **{**CFG, "segment_size": SERVING_SEGMENT_SIZE}
        ).to_dict()
        got = search(read_index(spark, out), q, size=5).collect()
        assert [r["docid"] for r in got] == want
        assert local_search(LocalIndex(out), q, size=5)["docid"].tolist() == want


def test_manifest_with_other_bm25_rejected(spark, small_pdf, tmp_path):
    """Block-max bounds baked with another k1/b would disagree with the
    kernels' scores: such an index neither resumes nor opens."""
    out = str(tmp_path / "idx")
    os.makedirs(out)
    cfg_d = IndexConfig(**CFG).to_dict()

    def write_manifest(complete):
        with open(os.path.join(out, "manifest.json"), "w") as f:
            json.dump({"stages": {}, "chunks": {}, "complete": complete,
                       "config": {**cfg_d, "k1": 2.0, "b": 0.75}}, f)

    write_manifest(complete=False)
    with pytest.raises(ValueError, match="k1=2.0"):
        build_and_write(to_spark(spark, small_pdf), out, IndexConfig(**CFG))
    write_manifest(complete=True)
    with pytest.raises(ValueError, match="k1=2.0"):
        load_config(out)


def test_index_without_impacts_must_be_rebuilt(spark, small_pdf, tmp_path):
    """Postings in the block format before impacts (a baked
    block_max_score and block_max_tf per block) cannot be bounded by the
    kernels: both readers refuse them and say to rebuild."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bzzz_spark.serve.local import LocalIndex

    out = str(tmp_path / "idx")
    build_and_write(to_spark(spark, small_pdf), out, IndexConfig(**CFG))
    for path in glob.glob(os.path.join(out, "postings", "*", "*.parquet")):
        t = pq.read_table(path)
        t = t.drop_columns(["impacts"]).append_column(
            "block_max_tf", pa.array(np.ones(t.num_rows, np.int32))
        ).append_column(
            "block_max_score", pa.array(np.ones(t.num_rows))
        )
        pq.write_table(t, path)
    with pytest.raises(ValueError, match="rebuild"):
        LocalIndex(out)
    with pytest.raises(ValueError, match="rebuild"):
        read_index(spark, out)


def test_postings_scan_pushes_term_filter_to_parquet(spark, small_pdf, tmp_path):
    """Plan-shape regression: a query against an ON-DISK index must
    reach the parquet scan with a term_id pushdown (PushedFilters) —
    at 10^12-turn scale this is what turns a query into a
    few-row-groups read instead of a full postings sweep."""
    df = to_spark(spark, small_pdf)
    out = str(tmp_path / "idx_plan")
    build_and_write(df, out, IndexConfig(**CFG), n_chunks=2)
    idx = read_index(spark, out)
    meta = idx.lookup_terms(["the"])
    tid = meta["the"][0]
    from pyspark.sql import functions as F

    scan = idx.postings.filter(F.col("term_id").isin([tid]))
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted"
    ) if hasattr(scan._sc._jvm, "PythonSQLUtils") else scan._jdf.queryExecution().toString()
    assert "PushedFilters" in plan and "term_id" in plan, plan[:2000]
    # and the pushed filter is not an empty list
    import re as _re
    m = _re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "term_id" in m.group(1), m.group(0) if m else plan[:500]
