"""Multi-shard serving: one plan, per-shard fetch + kernel, one merge.

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

Serving: the shards share one dictionary and one set of stats, so
ShardedIndex parses, validates, normalizes and plans each query ONCE,
on shard 0, then every shard fetches its own blocks and runs the one
plan's kernel; the merges (top-k, facet sums, sort comparator) are the
single index's own code in serve.local, run over N shards instead of
one.  In this process the per-shard fetch + kernel loop is serial
(kernels convoy on the GIL under threads — measured in serve.local).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import replace

import numpy as np
import pandas as pd

from bzzz_spark.serve.local import (
    LocalIndex,
    _facet_counts,
    _sorted_search,
    _top,
    _total_hits,
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
    (index_search.clj:115-155,256-276).  Each query method runs the
    one-shard-or-N pipeline of serve.local over `shards`: one parse and
    plan, a fetch + kernel call per shard, one merge."""

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
        self._check_shards()

    def _check_shards(self) -> None:
        """One plan serves every shard only if all come from ONE build:
        the n_docs sharded.json records, and shard=0's stats, config,
        dictionary size and block columns.  A shard copied from another
        build, or a root caught mid-rebuild, raises here instead of
        answering through foreign term ids."""
        with open(os.path.join(self.out_dir, SHARD_MANIFEST)) as f:
            n_docs = int(json.load(f)["n_docs"])
        ident = [
            (s.scalar_stats(), s.config, s._dict_ds.count_rows(),
             s._block_cols)
            for s in self.shards
        ]
        for i, got in enumerate(ident):
            if got != ident[0] or got[0][0] != n_docs:
                raise ValueError(
                    f"shard={i} of {self.out_dir} is not from the build "
                    f"{SHARD_MANIFEST} records: its n_docs, stats, config, "
                    "dictionary or block columns differ"
                )

    def refresh(self) -> bool:
        """Reopen every shard whose on-disk generation changed."""
        if not any([s.refresh() for s in self.shards]):
            return False
        self._check_shards()
        return True

    def total_hits(self, query) -> int:
        """Total matches over all shards (serve.local._total_hits)."""
        return _total_hits(self.shards, query)

    def search(
        self, query, size: int = 20, page: int = 0,
        fields: list[str] | None = None,
    ) -> pd.DataFrame:
        """Global top-k page (serve.local._top), hit-for-hit the single
        index's, with each hit's shard and optional stored fields."""
        d, s, at = _top(self.shards, query, size, page)
        # internal name: a stored column may be called 'shard'
        top = pd.DataFrame({"docid": d, "score": s, "__shard": at})
        if fields:
            top = self._attach_fields(top, fields)
        return self._expose_shard(top)

    def sorted_search(
        self, query, sort: list, size: int = 20, page: int = 0,
    ) -> pd.DataFrame:
        """Field-sorted top-k across shards with the full comparator
        (serve.local._sorted_search); expression sorts raise → Spark
        runtime."""
        top, specs = _sorted_search(self.shards, query, sort, size, page)
        out = top.rename(columns={"_score": "score"})
        keep = ["__shard", "docid", "score"]
        keep += [n for n, _ in specs if n not in keep and n != "_score"]
        return self._expose_shard(out[keep])

    def facet_counts(
        self, query, facet_field: str, size: int = 20,
        use_analyzer: bool = False,
    ) -> pd.DataFrame:
        """Exact facet counts, summed over shards before one cut."""
        return _facet_counts(
            self.shards, query, facet_field, size, use_analyzer
        )

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
