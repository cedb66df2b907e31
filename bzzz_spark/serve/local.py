"""In-process serving over a Spark-built index — zero Spark jobs.

The reference's deployment shape is a long-lived process holding hot
Lucene searchers (src/bzzz/index_directory.clj:129-132 refreshes an
in-process IndexSearcher per shard): queries cost microseconds of
scheduling, not a cluster round-trip.  Spark's analog has a structural
floor — even a fully-pruned narrow job pays ~0.1-0.2 s of driver
scheduling + Python-worker round-trip — so a latency-critical serving
tier should not run queries AS Spark jobs at all.  This module is that
tier: it opens the persisted index layout (build/checkpoint.py's
docs/ dictionary/ stats/ postings/ parquet directories) with pyarrow
and answers queries by running the SAME per-segment numpy kernels the
Spark path uses (query/wand.py plan_candidates → KernelPlan), so the
two runtimes are rank- and score-identical by construction — one
planner, one kernel, two block-fetch strategies.

Division of labor at 100 TB:
  * Spark builds (and incrementally rebuilds) the index — the scan,
    tokenize, shuffle, encode work that needs a cluster.
  * Each serving node opens its shard's directory with LocalIndex —
    the dictionary is memory-resident (Lucene's FST analog), postings
    stay on disk and are fetched per-query via parquet row-group
    pruning on term_id (postings files are written term_id-sorted, so
    a query reads only its own terms' blocks — the same pruned-bytes
    property the Spark reader gets from the same layout).
  * Scatter/gather across shards: serve.scatter.ShardedIndex — N
    LocalIndex shards (built with GLOBAL stats) + exact k-way merge,
    one LocalIndex = one shard, mirroring one reference node.

Scope: the block-max kernel shapes (term / bool / phrase / dv-range /
wildcard / fuzzy / constant-score / dis-max — everything
plan_candidates serves) for scoring, plus facets (local_facet_counts),
field sorts (local_sorted_search) and totals (local_total_hits) over
the exhaustive matched set.  Shapes only the exhaustive executor
answers (spatial sorts, custom/expression scoring and expression
sorts) raise: they are analytics and belong on the Spark runtime.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd

from bzzz_spark.query import ast


class _ColumnsShim:
    """Duck-types the one DataFrame attribute the planner reads."""

    def __init__(self, columns: list[str]):
        self.columns = list(columns)


class LocalIndex:
    """A read-only, in-process view of one persisted index directory.

    Duck-types the planner-facing surface of BzzzIndex (config,
    scalar_stats, lookup_terms, postings.columns, the expansion cache)
    so query/wand.py's plan_candidates serves both runtimes unchanged.
    Snapshot-immutable: caches never go stale (a rebuilt index is a new
    directory generation, reopened as a new LocalIndex — the serving
    analog of the reference's 5 s searcher refresh)."""

    wand_safe = True

    def __init__(self, out_dir: str, cache_blocks: bool = True,
                 max_cached_terms: int = 100_000):
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        from bzzz_spark.build.checkpoint import load_config

        self.out_dir = out_dir
        self.config = load_config(out_dir)
        self._post_ds = pads.dataset(
            os.path.join(out_dir, "postings"), format="parquet",
            partitioning="hive",
        )
        self._dict_ds = pads.dataset(
            os.path.join(out_dir, "dictionary"), format="parquet"
        )
        self._docs_ds = pads.dataset(
            os.path.join(out_dir, "docs"), format="parquet"
        )
        st = pq.read_table(os.path.join(out_dir, "stats")).to_pylist()[0]
        self._stats = (int(st["n_docs"]), float(st["avgdl"]))
        self._block_cols = [
            n for n in self._post_ds.schema.names if n != "chunk"
        ]
        self.postings = _ColumnsShim(self._block_cols)
        self._term_cache: dict = {}
        self._expansion_cache: dict = {}
        self._terms_arr = None  # lazy full term list (expansion only)
        # hot-term block cache: term_id → its (encoded) block rows.
        # The serving analog of a hot Lucene searcher's working set —
        # repeat queries over a hot index never touch parquet again.
        # Entries hold ENCODED blocks (varint bytes, ~3 B/posting), so
        # the cap bounds memory at roughly the hot terms' index bytes;
        # plain LRU via dict reinsertion order.
        self._cache_blocks = bool(cache_blocks)
        self._max_cached_terms = int(max_cached_terms)
        self._block_cache: dict[int, pd.DataFrame] = {}
        # docid-indexed stored-column arrays for serving-side facets and
        # field sorts — the Lucene FieldCache/doc-values analog: one
        # column read per column ever, then every query indexes it by
        # matched docid (docids are dense 0..n_docs-1 by construction)
        self._col_cache: dict[str, np.ndarray] = {}
        self._token_cache: dict[str, list] = {}
        self._manifest_mtime = os.path.getmtime(
            os.path.join(out_dir, "manifest.json")
        )

    def refresh(self) -> bool:
        """Reopen when the on-disk index generation changed — the
        serving analog of the reference's 5 s SearcherManager refresh
        (index_directory.clj:129-132).  Returns True if a new
        generation was opened (all caches drop).  The writers
        (write_index / build_and_write) replace the manifest atomically
        via os.replace, so its mtime marks the generation.  Unlike
        Lucene's immutable segment files, an in-place overwrite deletes
        the old parquet files — call refresh() before serving after a
        rewrite; a stale handle errors loudly rather than serving a
        torn snapshot."""
        p = os.path.join(self.out_dir, "manifest.json")
        if os.path.getmtime(p) == self._manifest_mtime:
            return False
        self.__init__(self.out_dir, self._cache_blocks,
                      self._max_cached_terms)
        return True

    # -- planner surface -------------------------------------------------

    def scalar_stats(self) -> tuple[int, float]:
        return self._stats

    def lookup_terms(self, keys) -> dict:
        """Same contract as BzzzIndex.lookup_terms: {key: (term_id, df)}
        for the present subset, negative results cached, fetch cost only
        for never-seen keys — a pyarrow predicate scan of the dictionary
        instead of a Spark job."""
        import pyarrow.compute as pc

        keys = list(keys)
        missing = [k for k in keys if k not in self._term_cache]
        if missing:
            tbl = self._dict_ds.to_table(
                columns=["term", "term_id", "df"],
                filter=pc.field("term").isin(missing),
            )
            found = {
                t: (int(i), int(d))
                for t, i, d in zip(
                    tbl["term"].to_pylist(),
                    tbl["term_id"].to_pylist(),
                    tbl["df"].to_pylist(),
                )
            }
            for k in missing:
                self._term_cache[k] = found.get(k)
        return {k: v for k in keys if (v := self._term_cache[k]) is not None}

    def expand_candidates(self, patterns, prefixes) -> list[list[str]]:
        """Wildcard/Fuzzy pattern expansion against the memory-resident
        term dictionary — the LocalIndex analog of
        executor.expand_multiterm, with identical semantics: anchored
        glob regex; length-band + prefix_len + edit distance (plain
        levenshtein, or OSA when transpositions=True) on the bare
        token; max_expansion keeps the top-N by (df desc, term asc) —
        the TopTermsRewrite cut.  One exact list per pattern.  The
        (term, df) dictionary loads lazily on first pattern query and
        stays resident (Lucene keeps its term dictionary FST
        memory-resident the same way)."""
        from bzzz_spark.oracle.pyoracle import fuzzy_distance_fn
        from bzzz_spark.query.executor import _cap_by_df, glob_to_regex

        if self._terms_arr is None:
            tbl = self._dict_ds.to_table(columns=["term", "df"])
            self._terms_arr = list(
                zip(tbl["term"].to_pylist(), tbl["df"].to_pylist())
            )
        out: list[list[str]] = []
        for p, pre in zip(patterns, prefixes):
            exp: list[tuple] = []
            if isinstance(p, ast.Wildcard):
                rx = re.compile(glob_to_regex(pre + p.value))
                exp = [
                    (t, d) for t, d in self._terms_arr
                    if rx.match(t) and (pre or ":" not in t)
                ]
            else:  # Fuzzy
                dist = fuzzy_distance_fn(getattr(p, "transpositions", False))
                lo = len(p.value) - p.max_edits
                hi = len(p.value) + p.max_edits
                lit = pre + p.value[: p.prefix_len]
                for t, d in self._terms_arr:
                    if pre:
                        if not t.startswith(pre):
                            continue
                    elif ":" in t:
                        continue
                    bare = t[len(pre):]
                    if not (lo <= len(bare) <= hi):
                        continue
                    if p.prefix_len > 0 and not t.startswith(lit):
                        continue
                    if dist(bare, p.value) <= p.max_edits:
                        exp.append((t, d))
            out.append(
                sorted(_cap_by_df(exp, getattr(p, "max_expansion", None)))
            )
        return out

    # -- block + doc fetch -------------------------------------------------

    def fetch_blocks(self, term_ids) -> pd.DataFrame:
        """Posting blocks for the given terms, as one pandas frame.
        The term_id filter prunes parquet row groups via min/max stats
        (blocks are written term_id-sorted within files), so a query
        reads only its own terms' bytes — the on-disk analog of the
        Spark path's pushed isin filter.  Cache hits skip parquet
        entirely (see _block_cache)."""
        import pyarrow.compute as pc

        tids = [int(t) for t in term_ids]
        if not self._cache_blocks:
            return self._post_ds.to_table(
                columns=self._block_cols,
                filter=pc.field("term_id").isin(tids),
            ).to_pandas()
        missing = [t for t in tids if t not in self._block_cache]
        if missing:
            fresh = self._post_ds.to_table(
                columns=self._block_cols,
                filter=pc.field("term_id").isin(missing),
            ).to_pandas()
            groups = {t: g for t, g in fresh.groupby("term_id", sort=False)}
            empty = fresh.iloc[0:0]
            for t in missing:
                self._block_cache[t] = groups.get(t, empty)
        parts = []
        for t in tids:
            g = self._block_cache.pop(t)  # reinsert = LRU touch
            self._block_cache[t] = g
            if len(g):
                parts.append(g)
        while len(self._block_cache) > self._max_cached_terms:
            self._block_cache.pop(next(iter(self._block_cache)))
        if not parts:
            return self._block_cache[tids[0]].iloc[0:0] if tids else (
                pd.DataFrame(columns=self._block_cols)
            )
        return pd.concat(parts, ignore_index=True)

    def doc_column(self, col: str) -> tuple:
        """The full stored column as (sorted docid array, value array)
        — loaded once per column, then facets/sorts index it per query
        via doc_values: Lucene's FieldCache / doc-values discipline.
        Docid-keyed (not positional) so it serves both a single index
        (dense 0..n-1) and a shard holding a hash-routed subset of the
        GLOBAL docid space.  Memory is one column per *used* field, not
        the docs table."""
        if col not in self._col_cache:
            pdf = (
                self._docs_ds.to_table(columns=["docid", col])
                .to_pandas()
                .sort_values("docid")
            )
            self._col_cache[col] = (
                pdf["docid"].to_numpy().astype(np.int64),
                pdf[col].to_numpy(),
            )
        return self._col_cache[col]

    def column_is_array(self, col: str) -> bool:
        """Whether a stored column is array-typed (memoized from the
        parquet schema — drives facet per-element vs per-doc counting)."""
        import pyarrow as pa

        f = self._docs_ds.schema.field(col)
        return pa.types.is_list(f.type) or pa.types.is_large_list(f.type)

    def doc_values(self, col: str, docids: np.ndarray) -> np.ndarray:
        """Column values for the given docids (all of which exist in
        this index by construction — they came from its own kernels)."""
        ids, vals = self.doc_column(col)
        return vals[np.searchsorted(ids, docids)]

    def doc_tokens(self, col: str, docids: np.ndarray) -> list:
        """Analyzed tokens of a stored column for the given docids
        (use-analyzer facet labels); token lists cached per column."""
        if col not in self._token_cache:
            from bzzz_spark.analysis.tokenizer import py_tokenize

            _, vals = self.doc_column(col)
            # cast-to-string before analysis, like the Spark path's
            # standard_tokenize(col.cast('string')); nulls analyze to []
            self._token_cache[col] = [
                [] if v is None or (isinstance(v, float) and np.isnan(v))
                else py_tokenize(v if isinstance(v, str) else str(v))
                for v in vals
            ]
        ids, _ = self.doc_column(col)
        toks = self._token_cache[col]
        return [toks[p] for p in np.searchsorted(ids, docids)]

    def fetch_docs(self, docids, columns=None) -> pd.DataFrame:
        """Stored fields for the given docids (R1 field projection).
        docs/ is written docid-sorted, so the isin filter prunes row
        groups the same way the Spark reader's pushed filter does."""
        import pyarrow.compute as pc

        cols = None
        if columns is not None:
            cols = list(dict.fromkeys(columns))
        tbl = self._docs_ds.to_table(
            columns=cols,
            filter=pc.field("docid").isin([int(d) for d in docids]),
        )
        pdf = tbl.to_pandas()
        if "tokens" in pdf.columns and (columns is None):
            pdf = pdf.drop(columns=["tokens"])
        return pdf


_EMPTY = pd.DataFrame(
    {"docid": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
)


def local_candidates(
    index: LocalIndex, node: ast.Query, k: int
) -> pd.DataFrame | None:
    """Per-segment top-k (docid, score) via the shared KernelPlan; None
    for shapes the kernels can't serve."""
    from bzzz_spark.query.wand import plan_candidates

    if isinstance(node, ast.Phrase) and node.boost >= 0:
        # a bare phrase is the one kernel-family shape classify() only
        # accepts inside a conjunction; Bool(must=[phrase]) is
        # score-identical (the must-sum of one clause)
        node = ast.Bool(must=[node])
    plan = plan_candidates(index, node, k)
    if plan is None:
        return None
    if plan.empty:
        return _EMPTY.copy()
    blocks = index.fetch_blocks(plan.tids)
    if not len(blocks):
        return _EMPTY.copy()
    # per-segment kernels run SERIALLY in this process: measured on
    # this box, a thread pool over segments is 2-7x SLOWER (the
    # kernels interleave many small numpy calls, so threads convoy on
    # the GIL).  Cross-segment/shard parallelism belongs to processes
    # — one LocalIndex per shard, like one reference node per shard.
    outs = [
        plan.kernel(g) for _, g in blocks.groupby("segment", sort=False)
    ]
    outs = [o for o in outs if len(o)]
    if not outs:
        return _EMPTY.copy()
    return pd.concat(outs, ignore_index=True)


def local_search(
    index: LocalIndex, query: "ast.Query | dict | str", size: int = 20,
    page: int = 0
) -> pd.DataFrame:
    """Top-k hits (docid, score), rank- and score-identical to the
    Spark path's executor.search: same parse → validate → normalize
    pipeline, same per-segment kernels, same (score desc, docid asc)
    merge order and page slice (reference paging semantics,
    index_search.clj:272-273,306).  Raises for shapes outside the
    kernel family — those are analytics queries that belong on the
    Spark runtime (executor.search)."""
    from bzzz_spark.query.executor import validate_fields
    from bzzz_spark.query.rewrite import normalize

    node = query if isinstance(query, ast.Query) else ast.parse_query(query)
    validate_fields(index, node)
    node = normalize(node)
    cand = local_candidates(index, node, size * page + size)
    if cand is None:
        raise ValueError(
            f"query shape {type(node).__name__} is outside the in-process "
            "serving family (block-max kernel shapes); run it through "
            "bzzz_spark.query.executor.search on the Spark runtime"
        )
    if not len(cand):
        return _EMPTY.copy()
    order = np.lexsort((cand["docid"].to_numpy(), -cand["score"].to_numpy()))
    k = size * page + size
    top = cand.iloc[order[:k]].iloc[page * size:].reset_index(drop=True)
    return top


def _normalized(index: LocalIndex, query) -> "ast.Query":
    from bzzz_spark.query.executor import validate_fields
    from bzzz_spark.query.rewrite import normalize

    node = query if isinstance(query, ast.Query) else ast.parse_query(query)
    validate_fields(index, node)
    return normalize(node)


def local_matched(index: LocalIndex, query) -> pd.DataFrame:
    """The FULL matched set (docid, score) — the serving analog of
    executor.execute: the same per-segment kernels run with k = n_docs,
    so block-max pruning never cuts and every match surfaces.  This is
    what facets, field sorts, and non-term totals consume (Lucene also
    abandons early termination for those collectors)."""
    node = _normalized(index, query)
    n_docs, _ = index.scalar_stats()
    cand = local_candidates(index, node, max(1, n_docs))
    if cand is None:
        raise ValueError(
            f"query shape {type(node).__name__} is outside the in-process "
            "serving family; run it on the Spark runtime"
        )
    return cand


def local_total_hits(index: LocalIndex, query) -> int:
    """Reference totalHits (index_search.clj:287-288): a bare term
    answers straight from the dictionary df — zero I/O beyond the
    memoized lookup — everything else counts its matched set."""
    node = query if isinstance(query, ast.Query) else ast.parse_query(query)
    if isinstance(node, ast.Term):
        from bzzz_spark.query.executor import term_key, validate_fields

        validate_fields(index, node)
        key = term_key(index, node.field_name, node.value)
        meta = index.lookup_terms([key])
        return int(meta[key][1]) if key in meta else 0
    return int(len(local_matched(index, query)))


def _label_counts(
    index: LocalIndex, docids: np.ndarray, facet_field: str,
    use_analyzer: bool = False,
) -> dict:
    """label → count over the matched docids, from the cached
    docid-indexed column (no per-query parquet reads).  use_analyzer
    counts analyzed TOKEN occurrences (a token twice in one doc counts
    twice — reference index_store.clj:86-93, matching
    facet_counts_multi's use_analyzer).  Scalar columns count per doc
    with None/NaN a real label (executor.facet_counts keeps the null
    group); array columns count per ELEMENT with null rows skipped —
    facet_counts_multi's explode semantics, the reference's
    multi-valued facets."""
    counts: dict = {}
    if use_analyzer:
        for doc_toks in index.doc_tokens(facet_field, docids):
            for t in doc_toks:
                counts[t] = counts.get(t, 0) + 1
        return counts
    sel = index.doc_values(facet_field, docids)
    if index.column_is_array(facet_field):
        for arr in sel:
            if arr is None or (isinstance(arr, float) and pd.isna(arr)):
                continue  # explode drops null arrays on the Spark path
            for v in arr:
                counts[v] = counts.get(v, 0) + 1
        return counts
    for v, c in pd.Series(sel).value_counts(dropna=False).items():
        counts[None if pd.isna(v) else v] = int(c)
    return counts


def _facet_cut(counts: dict, size: int) -> pd.DataFrame:
    """(count desc, label asc) cut — the executor.facet_counts order
    (nulls first on the ascending label, Spark's asc default)."""
    rows = sorted(
        counts.items(),
        key=lambda kv: (-kv[1], kv[0] is not None, kv[0]),
    )[:size]
    return pd.DataFrame(rows, columns=["label", "cnt"])


def local_facet_counts(
    index: LocalIndex, query, facet_field: str, size: int = 20,
    use_analyzer: bool = False,
) -> pd.DataFrame:
    """Serving-tier facet counts (reference F1,
    index_search.clj:252-262,294-305): exhaustive matched set via the
    kernels, label counting from the cached doc-values column, exact
    (count desc, label asc) cut.  Parity contract: scalar columns
    match executor.facet_counts (null group kept); array columns and
    use_analyzer match facet_counts_multi's per-element / analyzed-
    token semantics — pinned in tests."""
    matched = local_matched(index, query)
    docids = matched["docid"].to_numpy().astype(np.int64)
    return _facet_cut(
        _label_counts(index, docids, facet_field, use_analyzer), size
    )


def _sort_plan(sort: list) -> list[tuple[str, str]]:
    """Serving-tier sort spec → [(column, order)] with the executor's
    `_sort_specs` surface minus expression sorts (those need Spark SQL
    eval — an analytics shape; the serving tier raises and routes them
    to executor.sorted_search)."""
    out = []
    for s in sort:
        if isinstance(s, dict):
            raise ValueError(
                "expression sorts run on the Spark runtime "
                "(executor.sorted_search) — the serving tier serves "
                "field/_score/_doc sorts"
            )
        name, order = (s, "asc") if isinstance(s, str) else s
        out.append((name, order))
    return out


def _sorted_candidates(
    index: LocalIndex, query, sort: list
) -> tuple[pd.DataFrame, list[tuple[str, str]]]:
    """Matched set + one column per sort key (reference T3/T4 field
    sorts, index_search.clj:96-103,209-244): _score is the BM25 match
    score, _doc the docid, field keys come from the cached doc-values
    arrays.  Shared by the one-shard sort and the scatter/gather merge
    (the merge re-sorts on exactly these columns)."""
    specs = _sort_plan(sort)
    matched = local_matched(index, query).rename(columns={"score": "_score"})
    docids = matched["docid"].to_numpy().astype(np.int64)
    for name, _ in specs:
        if name == "_score":
            continue
        if name == "_doc":
            matched["_doc"] = matched["docid"]
            continue
        matched[name] = index.doc_values(name, docids)
    return matched, specs


def _apply_sort(
    pdf: pd.DataFrame, specs: list[tuple[str, str]],
    tiebreak: list[str],
) -> pd.DataFrame:
    """The executor's comparator: per key asc/desc with NULLS LAST
    (asc_nulls_last/desc_nulls_last), then an ascending tiebreak —
    stable mergesort so concatenated shard frames merge
    deterministically."""
    by = [n for n, _ in specs] + tiebreak
    asc = [o == "asc" for _, o in specs] + [True] * len(tiebreak)
    return pdf.sort_values(
        by=by, ascending=asc, na_position="last", kind="mergesort"
    )


def local_sorted_search(
    index: LocalIndex, query, sort: list, size: int = 20, page: int = 0,
    with_sort_values: bool = False,
) -> pd.DataFrame:
    """Top-k by field sort keys on the serving tier — rank-identical to
    executor.sorted_search for field/_score/_doc sorts (reference T3/T4
    + T6 `_sort` values, index_search.clj:209-250).  Expression sorts
    raise → Spark runtime."""
    pdf, specs = _sorted_candidates(index, query, sort)
    top = (
        _apply_sort(pdf, specs, ["docid"])
        .iloc[page * size: page * size + size]
        .reset_index(drop=True)
    )
    out = pd.DataFrame(
        {"docid": top["docid"], "score": top["_score"]}
    )
    if with_sort_values:
        out["_sort"] = [
            [
                {
                    "name": n,
                    "value": None if pd.isna(r[n]) else str(r[n]),
                    "reverse": o == "desc",
                }
                for n, o in specs
            ]
            for _, r in top.iterrows()
        ]
    return out
