"""Resumable checkpointed build (FIXTURES.md §5 resume invariance;
reference analog: rollback-on-error loop, core_test.clj:699-714)."""

import json
import math
import os

import pytest

from bzzz_spark.build.checkpoint import build_and_write, load_config, read_index
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
    # identical postings to the in-memory build (merge_mode="shuffle":
    # the checkpointed build uses docid//segment_size segments, while
    # the in-memory default "aligned" numbers segments per partition —
    # bit-comparison only holds against the same numbering)
    mem = build_index(df, IndexConfig(**CFG, merge_mode="shuffle"))
    assert _postings_rows(idx.postings) == _postings_rows(mem.postings)
    # the aligned build must carry identical posting CONTENT
    # (term → {docid: tf}) even though its block segmentation differs
    mem_aligned = build_index(df, IndexConfig(**CFG, merge_mode="aligned"))

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

    assert content(mem_aligned) == content(idx)
    # duplicate-posting detection: dict.update() above would silently
    # dedupe a double-emitted (term_id, docid); total decoded posting
    # counts (sum of block counts) must also match
    def n_postings(ix):
        return sum(r["count"] for r in ix.postings.select("count").collect())

    assert n_postings(mem_aligned) == n_postings(idx)
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


def test_config_mismatch_rejected(spark, small_pdf, tmp_path):
    df = to_spark(spark, small_pdf)
    out = str(tmp_path / "idx")
    build_and_write(df, out, IndexConfig(**CFG), n_chunks=2, max_chunks=1)
    with pytest.raises(ValueError, match="config mismatch"):
        build_and_write(df, out, IndexConfig(block_size=32, segment_size=64))


def _set_manifest_bm25(out, k1, b):
    """Rewrite the manifest as older builds wrote it: with k1/b keys."""
    p = os.path.join(out, "manifest.json")
    with open(p) as f:
        m = json.load(f)
    m["config"].update(k1=k1, b=b)
    with open(p, "w") as f:
        json.dump(m, f)


def test_manifest_with_bm25_constants_opens(spark, small_pdf, small_oracle, tmp_path):
    """Manifests that still record k1=1.2/b=0.75 resume and open."""
    from bzzz_spark.serve.local import LocalIndex, local_search

    df = to_spark(spark, small_pdf)
    out = str(tmp_path / "idx")
    build_and_write(df, out, IndexConfig(**CFG), n_chunks=2, max_chunks=1)
    _set_manifest_bm25(out, 1.2, 0.75)
    assert build_and_write(df, out, IndexConfig(**CFG), n_chunks=2)["complete"]
    _set_manifest_bm25(out, 1.2, 0.75)
    cfg_d = IndexConfig(**CFG, merge_mode="shuffle").to_dict()
    assert load_config(out).to_dict() == cfg_d
    q = ast.Term("data")
    want = [d for d, _ in small_oracle.search(q, size=5)]
    got = search(read_index(spark, out), q, size=5).collect()
    assert [r["docid"] for r in got] == want
    assert local_search(LocalIndex(out), q, size=5)["docid"].tolist() == want


def test_manifest_with_other_bm25_rejected(spark, small_pdf, tmp_path):
    """Block-max bounds baked with another k1/b would disagree with the
    kernels' scores: such an index neither resumes nor opens."""
    out = str(tmp_path / "idx")
    os.makedirs(out)
    cfg_d = IndexConfig(**CFG, merge_mode="shuffle").to_dict()

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


def test_per_segment_metrics(spark, small_pdf, tmp_path):
    df = to_spark(spark, small_pdf)
    out = str(tmp_path / "idx")
    build_and_write(df, out, IndexConfig(**CFG), n_chunks=2)
    metrics = spark.read.parquet(f"{out}/metrics")
    rows = {r["segment"]: r for r in metrics.collect()}
    idx = read_index(spark, out)
    segs = {r["segment"] for r in idx.postings.select("segment").distinct().collect()}
    assert set(rows) == segs
    n, _ = idx.scalar_stats()
    assert sum(r["n_postings"] for r in rows.values()) == sum(
        r["count"] for r in idx.postings.select("count").collect()
    )


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
