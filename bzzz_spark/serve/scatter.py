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
    LocalIndex directory) that together answer EXACTLY like one index:
    the checkpointed, resumable build_and_write with n_shards = N (see
    build/checkpoint.py).  Docids, the dictionary and the stats are
    global, and every shard's blocks are encoded against them, so
    per-posting scores and block-max bounds match the single-index
    build exactly.  Each shard carries the full dictionary and global
    stats; its docs/ and postings/ hold only its slice.  sharded.json,
    written last, records the build id every shard's manifest carries.
    Returns the build manifest (out_dir/manifest.json)."""
    from bzzz_spark.build.checkpoint import build_and_write

    return build_and_write(
        table, out_dir, cfg, n_shards=n_shards, route_col=route_col
    )


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
        the build id and n_docs sharded.json records, and shard=0's
        stats, config, dictionary size and block columns.  A shard
        copied from another build (even of the same corpus with another
        shard count), or a root caught mid-rebuild, raises here instead
        of answering through foreign term ids.  Roots written before
        build ids carry none, and are checked on the rest."""
        with open(os.path.join(self.out_dir, SHARD_MANIFEST)) as f:
            root = json.load(f)
        ident = []
        for s in self.shards:
            with open(os.path.join(s.out_dir, "manifest.json")) as f:
                build_id = json.load(f).get("build_id")
            ident.append((s.scalar_stats(), s.config,
                          s._dict_ds.count_rows(), s._block_cols, build_id))
        for i, got in enumerate(ident):
            if (got != ident[0] or got[0][0] != int(root["n_docs"])
                    or got[-1] != root.get("build_id")):
                raise ValueError(
                    f"shard={i} of {self.out_dir} is not from the build "
                    f"{SHARD_MANIFEST} records: its build id, n_docs, "
                    "stats, config, dictionary or block columns differ"
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
