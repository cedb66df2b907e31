"""Checkpointed, resumable on-disk index build.

The reference wraps every store in a 2-phase prepareCommit/commit with
rollback (reference: src/bzzz/index_directory.clj:210-240).  The Spark
rebuild gets atomicity from materialized stage outputs plus a manifest
that is only advanced after a stage/chunk lands:

  out_dir/
    manifest.json        config, lineage, stage + chunk checkpoints
    docs/                parquet, docid-sorted (min/max pruning on docid)
    dictionary/          parquet
    stats/               parquet (n_docs, avgdl)
    postings/chunk=i/    parquet per chunk (a contiguous segment range)
    metrics/chunk=i/     per-segment build metrics (n_blocks, n_postings,
                         bytes) — the per-partition lineage/metrics log

Resume: a crashed/killed build re-runs `build_and_write` with the same
args; completed stages and chunks are skipped (their manifest entries
exist), the rest re-run.  Chunk outputs are deterministic (fixed
partitioning + group-preserving encoder), so an interrupted+resumed
build is bit-identical to an uninterrupted one — asserted in
tests/test_checkpoint.py.

Per-chunk cost is proportional to chunk size: a chunk is a contiguous
docid range, so the tokenize+tf recompute for it reads only that slice
of docs/ (parquet min/max pruning on the docid sort order).  The
dictionary (global df) is computed once in its own stage.
"""

from __future__ import annotations

import json
import math
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bzzz_spark import BM25_B, BM25_K1
from bzzz_spark.build.indexer import (
    BzzzIndex,
    IndexConfig,
    _full_tf,
    build_dictionary,
    build_docs,
    build_posting_rows,
    encode_postings,
)

MANIFEST = "manifest.json"


def _load_manifest(out_dir: str) -> dict:
    p = os.path.join(out_dir, MANIFEST)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"stages": {}, "chunks": {}, "complete": False}


def _save_manifest(out_dir: str, m: dict) -> None:
    p = os.path.join(out_dir, MANIFEST)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=2, sort_keys=True)
    os.replace(tmp, p)  # atomic on POSIX


def _manifest_config(m: dict) -> dict:
    """The manifest's IndexConfig dict.  Older manifests also record
    k1/b; the block-max bounds on disk were scored with those, and the
    kernels score with the BM25 constants, so any other value would make
    pruning unsafe.  They may also name the posting-merge strategy they
    were built with (popped below): the query side never reads segment
    numbering, so every such index opens."""
    cfg_d = dict(m["config"])
    cfg_d.pop("merge_mode", None)
    for key, const in (("k1", BM25_K1), ("b", BM25_B)):
        if cfg_d.pop(key, const) != const:
            raise ValueError(
                f"index manifest has BM25 {key}={m['config'][key]}; this "
                f"engine scores only with {key}={const} — rebuild the index"
            )
    return cfg_d


def _write_postings(
    postings: DataFrame, path: str, n_docs: int, avgdl: float,
    cfg: IndexConfig,
) -> None:
    """Write encoded blocks in the serving-oriented file layout,
    measured on cold reads:

    - range-partition by term_id so each FILE holds a contiguous term
      slice — a term query's isin filter then skips whole files via
      their footer stats instead of reading a slice of every
      hash-partitioned file.  One extra shuffle of the ENCODED blocks
      (the index is ~2-3% of corpus bytes — the one-time serving-layout
      cost, Lucene's forceMerge analog); ~32 MB target per file,
      deterministic for resume (range sampling is seeded; content
      comparison is order-insensitive).
    - sort within files + SMALL row groups: tight term_id min/max per
      row group.  Granularity is what matters: encoded block rows
      average ~200-300 B, so a 2 MB row group holds ~10k rows and a rare
      term's read rounds up to half a chunk (measured); 128 KB groups
      hold ~500 rows → a term reads a few hundred block rows regardless
      of corpus size.  (The 128 MB default collapses a small file into
      ONE row group, silently disabling stats pruning altogether.)

    The file count assumes ~3 B per token occurrence (doc_gaps + tfs +
    dls varints) over ``n_docs`` docs; positions add one varint per
    occurrence, roughly doubling encoded bytes."""
    per_tok = 6 if cfg.store_positions else 3
    bytes_est = n_docs * max(avgdl, 1.0) * per_tok
    n_files = max(1, min(1024, math.ceil(bytes_est / (32 << 20))))
    (
        postings.repartitionByRange(n_files, "term_id")
        .sortWithinPartitions("term_id", "segment", "block_id")
        .write.mode("overwrite")
        .option("parquet.block.size", 128 * 1024)
        .parquet(path)
    )


def build_and_write(
    table: DataFrame,
    out_dir: str,
    cfg: IndexConfig | None = None,
    n_chunks: int = 4,
    max_chunks: int | None = None,
) -> dict:
    """Run (or resume) the checkpointed build.  Returns the manifest.

    ``max_chunks`` limits how many NEW posting chunks this invocation
    writes (test hook for simulating interruption).
    """
    cfg = cfg or IndexConfig()
    spark = table.sparkSession
    os.makedirs(out_dir, exist_ok=True)
    m = _load_manifest(out_dir)
    if m.get("complete"):
        return m
    cfg_d = cfg.to_dict()
    if "config" in m and _manifest_config(m) != cfg_d:
        raise ValueError(
            "resume config mismatch: manifest has a different IndexConfig — "
            "delete the output dir or pass the original config"
        )
    m["config"] = cfg_d

    docs_path = os.path.join(out_dir, "docs")
    dict_path = os.path.join(out_dir, "dictionary")
    stats_path = os.path.join(out_dir, "stats")

    # ---- stage: docs (docid assignment + tokenize + dl) ----
    if "docs" not in m["stages"]:
        t0 = time.perf_counter()
        docs = build_docs(table, cfg)
        docs.write.mode("overwrite").parquet(docs_path)
        row = (
            spark.read.parquet(docs_path)
            .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
            .collect()[0]
        )
        n_docs = int(row["n"])
        avgdl = float(row["avgdl"]) if row["avgdl"] is not None else 0.0
        spark.createDataFrame(
            [(n_docs, avgdl)], "n_docs long, avgdl double"
        ).write.mode("overwrite").parquet(stats_path)
        m["stages"]["docs"] = {
            "n_docs": n_docs,
            "avgdl": avgdl,
            "took_sec": round(time.perf_counter() - t0, 3),
            "input_rows": table.count(),
        }
        _save_manifest(out_dir, m)

    n_docs = m["stages"]["docs"]["n_docs"]
    avgdl = m["stages"]["docs"]["avgdl"]

    # ---- stage: dictionary (global term ids + df/cf) ----
    if "dictionary" not in m["stages"]:
        t0 = time.perf_counter()
        docs = spark.read.parquet(docs_path)
        dictionary = build_dictionary(_full_tf(docs, cfg), cfg)
        dictionary.write.mode("overwrite").parquet(dict_path)
        m["stages"]["dictionary"] = {
            "n_terms": spark.read.parquet(dict_path).count(),
            "took_sec": round(time.perf_counter() - t0, 3),
        }
        _save_manifest(out_dir, m)

    # ---- stage: postings, chunked by contiguous segment (docid) ranges ----
    n_segments = max(1, math.ceil(n_docs / cfg.segment_size))
    n_chunks = min(n_chunks, n_segments)
    per_chunk = math.ceil(n_segments / n_chunks)
    written = 0
    for ci in range(n_chunks):
        key = str(ci)
        if key in m["chunks"]:
            continue
        if max_chunks is not None and written >= max_chunks:
            break
        t0 = time.perf_counter()
        seg_lo, seg_hi = ci * per_chunk, min((ci + 1) * per_chunk, n_segments)
        doc_lo = seg_lo * cfg.segment_size
        doc_hi = seg_hi * cfg.segment_size  # exclusive
        docs = spark.read.parquet(docs_path).filter(
            (F.col("docid") >= doc_lo) & (F.col("docid") < doc_hi)
        )
        rows = build_posting_rows(
            _full_tf(docs, cfg), spark.read.parquet(dict_path), cfg
        )
        postings = encode_postings(rows, n_docs, avgdl, cfg)
        chunk_path = os.path.join(out_dir, "postings", f"chunk={ci}")
        _write_postings(postings, chunk_path, doc_hi - doc_lo, avgdl, cfg)
        metrics = (
            spark.read.parquet(chunk_path)
            .groupBy("segment")
            .agg(
                F.count(F.lit(1)).alias("n_blocks"),
                F.sum("count").alias("n_postings"),
                F.sum(
                    F.octet_length("doc_gaps") + F.octet_length("tfs")
                    + F.octet_length("dls")
                ).alias("payload_bytes"),
                F.countDistinct("term_id").alias("n_terms"),
            )
            .withColumn("chunk", F.lit(ci))
        )
        metrics_path = os.path.join(out_dir, "metrics", f"chunk={ci}")
        metrics.write.mode("overwrite").parquet(metrics_path)
        agg = metrics.agg(
            F.sum("n_blocks").alias("b"), F.sum("n_postings").alias("p")
        ).collect()[0]
        m["chunks"][key] = {
            "segments": [seg_lo, seg_hi],
            "docids": [doc_lo, doc_hi],
            "n_blocks": int(agg["b"] or 0),
            "n_postings": int(agg["p"] or 0),
            "took_sec": round(time.perf_counter() - t0, 3),
        }
        _save_manifest(out_dir, m)
        written += 1

    if len(m["chunks"]) == n_chunks:
        m["complete"] = True
        m["n_segments"] = n_segments
        _save_manifest(out_dir, m)
    return m


SERVING_SEGMENT_SIZE = 1 << 19  # 524 288 docs — measured sweet spot


def write_index(
    index: BzzzIndex, out_dir: str,
    serving_segment_size: int | None = SERVING_SEGMENT_SIZE,
) -> dict:
    """Persist an in-memory-built BzzzIndex to the on-disk serving
    layout (the same directory shape build_and_write produces, readable
    by read_index and serve.local.LocalIndex).

    This is the fast-build → serve handoff: build_index is the quick
    path (no checkpointing), and build_sharded calls this once per
    shard.  It writes the frames with the serving-oriented file
    discipline measured on cold reads — postings range-partitioned +
    sorted by term_id with small row groups (tight min/max stats → a
    term query reads only its own blocks' bytes), docs sorted by docid,
    the dictionary sorted by term for pruned lookups.  The reference's
    analog is Lucene's commit + forceMerge producing the segment files
    its searchers then mmap (src/bzzz/index_store.clj).

    Serving writes re-segment to FAT segments by default: the Spark
    path wants many small segments (one narrow task each), but the
    in-process serving loop pays a fixed numpy-kernel cost per segment
    — 512k-doc segments measured half the hot p50 of the 32k build
    default (0.206 → 0.097 s at 10× base).  The relabel is pure
    metadata (segment := docid // new_size groups whole
    old segments; blocks never span segments).  Pass
    serving_segment_size=None to keep the build segmentation.
    """
    os.makedirs(out_dir, exist_ok=True)
    n_docs, avgdl = index.scalar_stats()
    cfg = index.config
    postings, docs = index.postings, index.docs
    if (
        serving_segment_size
        and serving_segment_size > cfg.segment_size
        and serving_segment_size % cfg.segment_size == 0
    ):
        factor = serving_segment_size // cfg.segment_size
        postings = postings.withColumn(
            "segment", F.expr(f"segment div {int(factor)}").cast("int")
        )
        if "segment" in docs.columns:
            docs = docs.withColumn(
                "segment", F.expr(f"segment div {int(factor)}").cast("int")
            )
        from dataclasses import replace

        cfg = replace(cfg, segment_size=int(serving_segment_size))
    _write_postings(
        postings, os.path.join(out_dir, "postings", "chunk=0"),
        n_docs, avgdl, cfg,
    )
    (
        docs.repartitionByRange(
            max(1, math.ceil(n_docs / 2_000_000)), "docid"
        )
        .sortWithinPartitions("docid")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "docs"))
    )
    (
        index.dictionary.repartitionByRange(1, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .option("parquet.block.size", 512 * 1024)
        .parquet(os.path.join(out_dir, "dictionary"))
    )
    index.stats.write.mode("overwrite").parquet(
        os.path.join(out_dir, "stats")
    )
    m = {
        "stages": {}, "chunks": {"0": {}}, "complete": True,
        "config": cfg.to_dict(), "written_by": "write_index",
    }
    _save_manifest(out_dir, m)
    return m


def load_config(out_dir: str) -> IndexConfig:
    """Reconstruct the IndexConfig a completed on-disk index was built
    with (shared by the Spark reader below and the in-process serving
    reader, bzzz_spark.serve.local.LocalIndex)."""
    m = _load_manifest(out_dir)
    if not m.get("complete"):
        raise ValueError(f"index at {out_dir} is incomplete — resume the build")
    cfg_d = _manifest_config(m)
    cfg_d["key_cols"] = tuple(cfg_d["key_cols"])
    cfg_d["extra_fields"] = tuple(
        tuple(x) for x in cfg_d.get("extra_fields", [])
    )
    cfg_d["docvalue_cols"] = tuple(cfg_d.get("docvalue_cols", []))
    return IndexConfig(**cfg_d)


def read_index(spark: SparkSession, out_dir: str) -> BzzzIndex:
    cfg = load_config(out_dir)
    return BzzzIndex(
        docs=spark.read.parquet(os.path.join(out_dir, "docs")).drop("tokens"),
        dictionary=spark.read.parquet(os.path.join(out_dir, "dictionary")),
        postings=spark.read.parquet(os.path.join(out_dir, "postings")).drop("chunk"),
        stats=spark.read.parquet(os.path.join(out_dir, "stats")),
        config=cfg,
    )
