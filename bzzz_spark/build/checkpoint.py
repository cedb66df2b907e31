"""Checkpointed, resumable on-disk index build, and the one writer of
the index directory layout.

The reference wraps every store in a 2-phase prepareCommit/commit with
rollback (reference: src/bzzz/index_directory.clj:210-240).  The Spark
rebuild gets atomicity from materialized stage outputs plus a manifest
that is only advanced after a stage/chunk lands, and from one commit
step that writes the manifest last:

  out_dir/               one index directory (N = 1 shard)
    manifest.json        config (with the segment_size the postings
                         carry), build id, stage + chunk checkpoints;
                         `complete` only after the commit
    docs/                parquet, docid range-partitioned and sorted
    dictionary/          parquet, term-sorted, 512 KiB row groups
    stats/               one parquet file (n_docs, avgdl)
    postings/chunk=i/    parquet per chunk (a contiguous docid range)
    _build/              scratch until the commit deletes it: docs with
                         their tokens and shard tag, the dictionary

  With N > 1 shards, out_dir/manifest.json holds the build's
  checkpoints, each out_dir/shard=i/ is an index directory as above
  and the commit writes out_dir/sharded.json last.

Resume: a crashed/killed build re-runs `build_and_write` with the same
args; completed stages and chunks are skipped (their manifest entries
exist), the rest re-run.  Chunk outputs are deterministic (fixed
partitioning + group-preserving encoder), so an interrupted+resumed
build is bit-identical to an uninterrupted one — asserted in
tests/test_checkpoint.py.

Per-chunk cost is proportional to chunk size: a chunk is a contiguous
docid range, so the tf recompute for it reads only that slice of the
scratch docs (parquet min/max pruning on the docid order).  The
dictionary (global df) is computed once in its own stage.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import uuid
from dataclasses import replace

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


def _save_manifest(out_dir: str, m: dict, name: str = MANIFEST) -> None:
    p = os.path.join(out_dir, name)
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


SERVING_SEGMENT_SIZE = 1 << 19  # 524 288 docs — measured sweet spot


def _serving_config(
    cfg: IndexConfig, serving_segment_size: int | None
) -> IndexConfig:
    """The one segment policy of a written index: FAT serving segments.
    The Spark build wants many small segments (one narrow task each),
    but the in-process serving loop pays a fixed numpy-kernel cost per
    segment — 512k-doc segments measured half the hot p50 of the 32k
    build default (0.206 → 0.097 s at 10× base).  The relabel is pure
    metadata (segment := docid // new_size groups whole build segments;
    blocks never span segments), so it applies only to a multiple of
    the build size.  None keeps the build segmentation."""
    size = serving_segment_size
    if size and size > cfg.segment_size and size % cfg.segment_size == 0:
        return replace(cfg, segment_size=int(size))
    return cfg


def _write_postings(
    postings: DataFrame, path: str, n_docs: int, avgdl: float,
    cfg: IndexConfig, serving_segment_size: int | None = SERVING_SEGMENT_SIZE,
) -> IndexConfig:
    """Write encoded blocks in the serving-oriented file layout,
    measured on cold reads, relabeled to serving segments
    (_serving_config).  Returns the config whose segment_size the
    written blocks carry.

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
      The 128 KiB row group is the unit of a cold read:
      serve.local.LocalIndex maps each group's footer term_id range at
      open and reads only the groups that cover a query's terms.
      Halving it measured +5.2 % index bytes on the 5k-turn sharded
      benchmark index, for a smaller over-read.

    The file count assumes ~3 B per token occurrence (doc_gaps + tfs +
    dls varints) over ``n_docs`` docs; positions add one varint per
    occurrence, roughly doubling encoded bytes."""
    served = _serving_config(cfg, serving_segment_size)
    factor = served.segment_size // cfg.segment_size
    per_tok = 6 if cfg.store_positions else 3
    bytes_est = n_docs * max(avgdl, 1.0) * per_tok
    n_files = max(1, min(1024, math.ceil(bytes_est / (32 << 20))))
    (
        postings.repartitionByRange(n_files, "term_id")
        .sortWithinPartitions("term_id", "segment", "block_id")
        .withColumn("segment", F.expr(f"segment div {factor}").cast("int"))
        .write.mode("overwrite")
        .option("parquet.block.size", 128 * 1024)
        .parquet(path)
    )
    return served


def _write_index_dir(
    out_dir: str, docs: DataFrame, dictionary: DataFrame, n_docs: int,
    avgdl: float, cfg: IndexConfig, manifest: dict,
) -> dict:
    """The one writer of an index directory's docs/, dictionary/,
    stats/ and manifest, for every builder (the driver's commit and
    write_index); the postings have already landed through
    _write_postings, and ``cfg`` carries their segment_size.  docs/ is
    docid range-partitioned and sorted (an isin fetch prunes row
    groups), the dictionary term-sorted with small row groups (a term
    lookup reads one group).  The manifest goes last: until it says
    complete, the directory does not open."""
    spark = docs.sparkSession
    (
        docs.repartitionByRange(max(1, math.ceil(n_docs / 2_000_000)), "docid")
        .sortWithinPartitions("docid")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "docs"))
    )
    (
        dictionary.repartitionByRange(1, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .option("parquet.block.size", 512 * 1024)
        .parquet(os.path.join(out_dir, "dictionary"))
    )
    # one row from one partition: one file and no Python worker (a
    # coalesced createDataFrame row measured 0.97 s a write, this 0.17 s)
    spark.range(0, 1, 1, 1).select(
        F.lit(int(n_docs)).cast("long").alias("n_docs"),
        F.lit(float(avgdl)).cast("double").alias("avgdl"),
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "stats"))
    m = {**manifest, "config": cfg.to_dict(), "complete": True}
    _save_manifest(out_dir, m)
    return m


def build_and_write(
    table: DataFrame,
    out_dir: str,
    cfg: IndexConfig | None = None,
    n_chunks: int = 4,
    max_chunks: int | None = None,
    n_shards: int = 1,
    route_col: str | None = None,
) -> dict:
    """Run (or resume) the checkpointed build of one index directory,
    or of N shards that together answer EXACTLY like one index.
    Returns the manifest.

    Every N runs the same stages.  docs: GLOBAL docids (dense over
    key_cols), tokens, and each doc's shard — hash(route_col) mod N,
    default the first key column, the reference's doc-id routing — into
    the scratch dir.  dictionary: global df, once over all docs.  Each
    docid-range chunk: tf → posting rows → ONE encode_postings grouped
    by segment * N + shard (the identity at N = 1), so no block spans
    two shards and every block is scored against the global stats →
    each shard's slice through _write_postings.  The commit writes each
    shard's docs, dictionary, stats and manifest (with the build id),
    then sharded.json when N > 1, and deletes the scratch dir.

    ``max_chunks`` limits how many NEW posting chunks this invocation
    writes (test hook for simulating interruption).  A resume must pass
    the original cfg, n_chunks, n_shards and route_col.
    """
    from bzzz_spark.serve.scatter import SHARD_MANIFEST, shard_id

    cfg = cfg or IndexConfig()
    n = int(n_shards)
    if n <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    plan = {"n_chunks": n_chunks, "n_shards": n,
            "route_col": route_col or cfg.key_cols[0]}
    spark = table.sparkSession
    os.makedirs(out_dir, exist_ok=True)
    scratch = os.path.join(out_dir, "_build")
    m = _load_manifest(out_dir)
    if m.get("complete"):
        shutil.rmtree(scratch, ignore_errors=True)
        return m
    if "config" in m and _manifest_config(m) != cfg.to_dict():
        raise ValueError(
            "resume config mismatch: manifest has a different IndexConfig — "
            "delete the output dir or pass the original config"
        )
    if m.setdefault("plan", plan) != plan:
        raise ValueError(
            f"resume chunk plan mismatch: manifest has {m['plan']}, got "
            f"{plan} — delete the output dir or pass the original plan"
        )
    m["config"] = cfg.to_dict()
    m.setdefault("build_id", uuid.uuid4().hex)
    dirs = [out_dir] if n == 1 else [
        os.path.join(out_dir, f"shard={i}") for i in range(n)
    ]
    docs_path = os.path.join(scratch, "docs")
    dict_path = os.path.join(scratch, "dictionary")

    # ---- stage: docs (docid assignment + tokenize + dl + shard) ----
    if "docs" not in m["stages"]:
        t0 = time.perf_counter()
        for d in dirs:  # postings of an earlier build in this directory
            shutil.rmtree(os.path.join(d, "postings"), ignore_errors=True)
        build_docs(table, cfg).withColumn(
            "__shard", shard_id(plan["route_col"], n).cast("int")
        ).write.mode("overwrite").parquet(docs_path)
        row = (
            spark.read.parquet(docs_path)
            .agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
            .collect()[0]
        )
        m["stages"]["docs"] = {
            "n_docs": int(row["n"]),
            "avgdl": float(row["avgdl"]) if row["avgdl"] is not None else 0.0,
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
    # the shard tag rides through tf like a doc value
    tagged = replace(cfg, docvalue_cols=(*cfg.docvalue_cols, "__shard"))
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
            _full_tf(docs, tagged), spark.read.parquet(dict_path), cfg
        )
        folded = rows.withColumn(
            "segment", (F.col("segment") * n + F.col("__shard")).cast("int")
        ).drop("__shard")
        blocks = (
            encode_postings(folded, n_docs, avgdl, cfg)
            .withColumn("__shard", F.pmod("segment", F.lit(n)))
            .withColumn("segment", F.expr(f"segment div {n}").cast("int"))
            .persist()
        )
        agg = blocks.agg(
            F.count(F.lit(1)).alias("b"), F.sum("count").alias("p")
        ).collect()[0]
        for i, d in enumerate(dirs):
            _write_postings(
                blocks.filter(F.col("__shard") == i).drop("__shard"),
                os.path.join(d, "postings", f"chunk={ci}"),
                math.ceil((doc_hi - doc_lo) / n), avgdl, cfg,
            )
        blocks.unpersist()
        m["chunks"][key] = {
            "segments": [seg_lo, seg_hi],
            "docids": [doc_lo, doc_hi],
            "n_blocks": int(agg["b"] or 0),
            "n_postings": int(agg["p"] or 0),
            "took_sec": round(time.perf_counter() - t0, 3),
        }
        _save_manifest(out_dir, m)
        written += 1
    if len(m["chunks"]) < n_chunks:
        return m

    # ---- commit: every shard's directory, sharded.json last ----
    served = _serving_config(cfg, SERVING_SEGMENT_SIZE)
    docs = spark.read.parquet(docs_path).drop("tokens")
    dictionary = spark.read.parquet(dict_path)
    for i, d in enumerate(dirs):
        _write_index_dir(
            d, docs.filter(F.col("__shard") == i).drop("__shard"),
            dictionary, n_docs, avgdl, served,
            m if n == 1 else {**m, "shard": i},
        )
    m.update(config=served.to_dict(), complete=True)
    if n > 1:
        _save_manifest(out_dir, {
            "n_shards": n, "route_col": plan["route_col"], "n_docs": n_docs,
            "build_id": m["build_id"],
        }, SHARD_MANIFEST)
        _save_manifest(out_dir, m)
    shutil.rmtree(scratch)
    return m


def write_index(
    index: BzzzIndex, out_dir: str,
    serving_segment_size: int | None = SERVING_SEGMENT_SIZE,
) -> dict:
    """Persist an in-memory-built BzzzIndex to the on-disk serving
    layout — the same directory build_and_write's commit writes,
    through the same writer (_write_postings, _write_index_dir),
    readable by read_index and serve.local.LocalIndex.

    This is the fast-build → serve handoff: build_index is the quick
    path (no checkpointing).  The reference's analog is Lucene's
    commit + forceMerge producing the segment files its searchers then
    mmap (src/bzzz/index_store.clj).  Postings are relabeled to
    serving_segment_size segments (see _serving_config); pass
    serving_segment_size=None to keep the build segmentation.
    """
    os.makedirs(out_dir, exist_ok=True)
    n_docs, avgdl = index.scalar_stats()
    served = _write_postings(
        index.postings, os.path.join(out_dir, "postings", "chunk=0"),
        n_docs, avgdl, index.config, serving_segment_size,
    )
    return _write_index_dir(
        out_dir, index.docs, index.dictionary, n_docs, avgdl, served,
        {"stages": {}, "chunks": {"0": {}}, "written_by": "write_index"},
    )


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
