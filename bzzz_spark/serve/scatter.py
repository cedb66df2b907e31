"""Multi-shard serving: scatter/gather + exact k-way merge.

The reference's deployment story is N shards, each a node-local Lucene
searcher, with the coordinator merging per-shard results
(src/bzzz/index_search.clj:115-155 `reduce-collection`: sum totals,
concat hits, re-sort with the full comparator, re-limit;
index_search.clj:209-244 the comparator incl. reverse sorts;
src/bzzz/index_store.clj:119-122 routes a doc to
`hash(id) mod n-shards`).  `sharding_test.clj:27-78` pins the
invariant this module's tests strengthen: sharding must not change
results — here hit-for-hit, scores included.

Per-shard Lucene scores with SHARD-LOCAL idf/norms stats, so the
reference's merged ranking drifts from a single index's.  We fix that
the way distributed Lucene deployments do (Elasticsearch's
dfs_query_then_fetch, made static): `build_sharded` runs ONE global
build — docids, dictionary (global df), stats (global n_docs, avgdl)
and a single posting encode whose groups never cross a shard — so
every shard's postings are encoded AGAINST THOSE GLOBAL STATS.
Every shard therefore scores — and block-max-prunes, the baked
block_max_score bounds being globally correct — exactly as the single
fat index would, docids are GLOBAL (assigned before routing), and the
gather's (score desc, docid asc) merge reproduces the single-index
result bit-for-bit, ties included.

Scale shape: the build is the standard distributed build plus a
per-shard write of its slice of the encoded blocks.  In this process
the scatter loop is serial per shard (kernels convoy on the GIL under
threads — measured in serve.local); in deployment each shard is its
own process/host, so query wall-clock is max(shard) + merge, not sum.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import replace

import numpy as np
import pandas as pd

from bzzz_spark.query import ast
from bzzz_spark.serve.local import (
    LocalIndex,
    _apply_sort,
    _facet_cut,
    _label_counts,
    _sorted_candidates,
    local_matched,
    local_search,
    local_total_hits,
)

SHARD_MANIFEST = "sharded.json"


def shard_id(key: str, n_shards: int):
    """Routing Column: shard = pmod(xxhash64(key), n_shards) — the
    reference's `mod(hash(id), n-shards)` (index_store.clj:119-122)
    with a portable, partitioning-independent hash."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_shards))


def build_sharded(
    table, out_dir: str, n_shards: int, cfg=None, route_col: str | None = None
) -> dict:
    """Build N serving shards (out_dir/shard=i/, each a complete
    LocalIndex directory) that together answer EXACTLY like one index.

    The steps are the single build's, run once over the whole corpus:
    docs with GLOBAL docids (dense over key_cols — the same order a
    single build uses), tf, the dictionary (global df per term) and
    corpus stats, posting rows and ONE encode_postings pass.  Each doc
    is routed by hash(route_col) — default the first key column, the
    reference's doc-id routing — and the encode groups by
    segment * n_shards + shard, so no block spans two shards and every
    block equals the one a per-shard encode with the GLOBAL stats would
    write: per-posting scores and block-max bounds match the
    single-index build exactly.  The encoded blocks are persisted, then
    write_index writes each shard's slice.  Every shard carries the
    full (shared) dictionary and global stats; its docs/postings hold
    only its slice.  sharded.json records each stage's took_sec.
    """
    from pyspark.sql import functions as F

    from bzzz_spark.build.checkpoint import write_index
    from bzzz_spark.build.indexer import (
        BzzzIndex,
        IndexConfig,
        _avgdl,
        _full_tf,
        _segment_col,
        build_dictionary,
        build_docs,
        build_posting_rows,
        encode_postings,
    )

    n = int(n_shards)
    if n <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    cfg = cfg or IndexConfig()
    route = route_col or cfg.key_cols[0]
    os.makedirs(out_dir, exist_ok=True)
    took = {}
    t0 = time.perf_counter()

    docs = build_docs(table, cfg).persist()  # GLOBAL docids, key order
    n_docs = docs.count()
    took["docs"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    # the shard tag rides through tf like a doc value
    tagged = docs.withColumn("__shard", shard_id(route, n))
    tf = _full_tf(
        tagged, replace(cfg, docvalue_cols=(*cfg.docvalue_cols, "__shard"))
    ).persist()
    avgdl = _avgdl(tf, n_docs)
    dictionary = build_dictionary(tf, cfg).persist()
    dictionary.count()
    took["dictionary"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    rows = build_posting_rows(tf, dictionary, cfg)
    folded = rows.withColumn(
        "segment", F.col("segment") * n + F.col("__shard")
    ).drop("__shard")
    blocks = (
        encode_postings(folded, n_docs, avgdl, cfg)
        .withColumn("shard", F.pmod("segment", F.lit(n)))
        .withColumn("segment", F.expr(f"segment div {n}").cast("int"))
        .persist()
    )
    blocks.count()
    tf.unpersist()
    took["encode"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    stats = docs.sparkSession.createDataFrame(
        [(n_docs, avgdl)], "n_docs long, avgdl double"
    )
    for i in range(n):
        idx = BzzzIndex(
            docs=docs.filter(shard_id(route, n) == i)
            .withColumn("segment", _segment_col(cfg))
            .drop("tokens"),
            dictionary=dictionary,
            postings=blocks.filter(F.col("shard") == i).drop("shard"),
            stats=stats,
            config=cfg,
        )
        write_index(idx, os.path.join(out_dir, f"shard={i}"))
    took["write"] = time.perf_counter() - t0
    blocks.unpersist()
    docs.unpersist()
    dictionary.unpersist()
    m = {"n_shards": n, "route_col": route, "n_docs": int(n_docs),
         "stages": {k: {"took_sec": round(v, 3)} for k, v in took.items()}}
    tmp = os.path.join(out_dir, SHARD_MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(m, f)
    os.replace(tmp, os.path.join(out_dir, SHARD_MANIFEST))
    return m


class ShardedIndex:
    """Coordinator over N LocalIndex shards — the serving analog of the
    reference's `search-many` fan-out + `reduce-collection` merge
    (index_search.clj:115-155,256-276)."""

    def __init__(self, out_dir: str, **local_kwargs):
        with open(os.path.join(out_dir, SHARD_MANIFEST)) as f:
            m = json.load(f)
        self.out_dir = out_dir
        self.n_shards = int(m["n_shards"])
        self.route_col = m["route_col"]
        self.shards = [
            LocalIndex(os.path.join(out_dir, f"shard={i}"), **local_kwargs)
            for i in range(self.n_shards)
        ]

    def refresh(self) -> bool:
        """Reopen every shard whose on-disk generation changed."""
        return any([s.refresh() for s in self.shards])

    def total_hits(self, query) -> int:
        """Sum of per-shard totals (index_search.clj:121) — except a
        bare term, whose GLOBAL df sits in the shared dictionary every
        shard carries: one zero-I/O lookup instead of N counts."""
        node = query if isinstance(query, ast.Query) else ast.parse_query(query)
        if isinstance(node, ast.Term):
            return local_total_hits(self.shards[0], node)
        return sum(local_total_hits(s, node) for s in self.shards)

    def search(
        self, query, size: int = 20, page: int = 0,
        fields: list[str] | None = None,
    ) -> pd.DataFrame:
        """Global top-k: per-shard kernel top-k (k = page·size + size —
        the global top-k is a subset of the union of per-shard top-k),
        concat, ONE stable re-sort on (score desc, docid asc), page
        slice.  Docids are global, so this is the single-index
        comparator verbatim — hit-for-hit parity, ties included."""
        k = page * size + size
        parts = []
        for si, s in enumerate(self.shards):
            pdf = local_search(s, query, size=k, page=0).copy()
            pdf["__shard"] = si  # internal: a stored column may be 'shard'
            parts.append(pdf)
        allh = pd.concat(parts, ignore_index=True)
        order = np.lexsort(
            (allh["docid"].to_numpy(), -allh["score"].to_numpy())
        )
        top = allh.iloc[order[:k]].iloc[page * size:].reset_index(drop=True)
        if fields:
            top = self._attach_fields(top, fields)
        return self._expose_shard(top)

    def sorted_search(
        self, query, sort: list, size: int = 20, page: int = 0,
    ) -> pd.DataFrame:
        """Field-sorted top-k across shards with the full comparator
        (asc/desc per key, nulls last, docid tiebreak) applied at the
        merge — reference index_search.clj:209-244.  Expression sorts
        raise in _sorted_candidates → Spark runtime."""
        k = page * size + size
        parts, specs = [], None
        for si, s in enumerate(self.shards):
            pdf, specs = _sorted_candidates(s, query, sort)
            pdf = _apply_sort(pdf, specs, ["docid"]).iloc[:k].copy()
            pdf["__shard"] = si
            parts.append(pdf)
        allh = pd.concat(parts, ignore_index=True)
        top = (
            _apply_sort(allh, specs, ["docid"])
            .iloc[page * size: k]
            .reset_index(drop=True)
        )
        out = top.rename(columns={"_score": "score"})
        keep = ["__shard", "docid", "score"]
        keep += [n for n, _ in specs if n not in keep and n != "_score"]
        return self._expose_shard(out[[c for c in keep if c in out.columns]])

    def facet_counts(
        self, query, facet_field: str, size: int = 20,
        use_analyzer: bool = False,
    ) -> pd.DataFrame:
        """EXACT cross-shard facet merge: per-shard label counts over
        the full matched set, summed UNCUT, then one (count desc,
        label asc) cut — the correctness the reference documents as
        unreachable for its post-cut merge (index_search.clj:186-204
        'broken by design'); parity with the Spark path's global
        groupBy is pinned in tests."""
        totals: dict = {}
        for s in self.shards:
            docids = (
                local_matched(s, query)["docid"].to_numpy().astype(np.int64)
            )
            for lbl, c in _label_counts(
                s, docids, facet_field, use_analyzer
            ).items():
                totals[lbl] = totals.get(lbl, 0) + c
        return _facet_cut(totals, size)

    def _attach_fields(
        self, pdf: pd.DataFrame, fields: list[str]
    ) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["__pos"] = np.arange(len(pdf))
        parts = []
        for si, g in pdf.groupby("__shard", sort=False):
            stored = self.shards[int(si)].fetch_docs(
                g["docid"].tolist(), columns=["docid", *fields]
            )
            parts.append(g.merge(stored, on="docid", how="left"))
        out = pd.concat(parts, ignore_index=True) if parts else pdf
        return (
            out.sort_values("__pos").drop(columns="__pos")
            .reset_index(drop=True)
        )

    @staticmethod
    def _expose_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        """Expose the internal routing column as 'shard' unless a
        stored/sort column of that name is present (then it stays
        '__shard' rather than clobbering user data)."""
        if "shard" in pdf.columns:
            return pdf
        return pdf.rename(columns={"__shard": "shard"})


def open_serving(out_dir: str, **kw):
    """Open either layout: a sharded root (sharded.json) → ShardedIndex,
    a single index directory → LocalIndex."""
    if os.path.exists(os.path.join(out_dir, SHARD_MANIFEST)):
        return ShardedIndex(out_dir, **kw)
    return LocalIndex(out_dir, **kw)
