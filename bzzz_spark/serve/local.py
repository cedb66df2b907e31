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
and answers queries by running the SAME block-max kernels the Spark
path uses (query/wand.py plan_candidates → KernelPlan), so the
two runtimes are rank- and score-identical by construction — one
planner, one kernel, two block-fetch strategies.

Division of labor at 100 TB:
  * Spark builds (and incrementally rebuilds) the index — the scan,
    tokenize, shuffle, encode work that needs a cluster.
  * Each serving node opens its shard's directory with LocalIndex —
    the dictionary is memory-resident as one sorted term directory
    (Lucene's terms-index analog, loaded on the first lookup), postings
    stay on disk.  At open, LocalIndex reads every postings file's
    footer once into a row-group map (file, row group, term_id min,
    max); a cold fetch reads only the row groups whose range covers a
    wanted term (postings files are written term_id-sorted in 116 KiB
    row groups, so a query reads only its own terms' blocks — no
    dataset scan per query).
  * Scatter/gather across shards: serve.scatter.ShardedIndex.  Each
    serving operation below is written once, over a list of shards (a
    LocalIndex is the one-shard list): parse, validate, normalize and
    plan once, on shard 0; fetch + kernel per shard; one exact merge.

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
from bisect import bisect_left
from collections import Counter

import numpy as np
import pandas as pd

from bzzz_spark.query import ast


class _ColumnsShim:
    """Duck-types the one DataFrame attribute the planner reads."""

    def __init__(self, columns: list[str]):
        self.columns = list(columns)


def _row_group_map(paths: list[str]) -> tuple[list, tuple]:
    """Each postings file's footer, read once: the (path, FileMetaData)
    pairs and, per row group, the arrays (file index, row group, term_id
    min, term_id max) from the footer statistics.  A row group whose
    footer has no min/max gets the whole int64 range, so it is never
    skipped.  Holding FileMetaData rather than open files costs the same
    per read and no file descriptor, at up to 1,024 files per shard."""
    import pyarrow.parquet as pq

    footers, rows = [], []
    full = (np.iinfo(np.int64).min, np.iinfo(np.int64).max)
    for fi, path in enumerate(paths):
        md = pq.read_metadata(path)
        footers.append((path, md))
        col = md.schema.names.index("term_id")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(col).statistics
            rng = (st.min, st.max) if st is not None and st.has_min_max else full
            rows.append((fi, g, *rng))
    arr = np.array(rows, dtype=np.int64).reshape(-1, 4)
    return footers, tuple(arr.T)


class LocalIndex:
    """A read-only, in-process view of one persisted index directory.

    Duck-types the planner-facing surface of BzzzIndex (config,
    scalar_stats, lookup_terms, postings.columns, the expansion cache)
    so query/wand.py's plan_candidates serves both runtimes unchanged.
    Terms resolve through a sorted in-memory term directory, loaded on
    the first lookup (in a ShardedIndex only shard 0 plans, so only
    shard 0 loads it); blocks through the row-group map of the postings
    footers, read at open.  Snapshot-immutable: caches never go stale
    (a rebuilt index is a new directory generation, reopened as a new
    LocalIndex — the serving analog of the reference's 5 s searcher
    refresh)."""

    def __init__(self, out_dir: str, max_cached_bytes: int = 256 << 20):
        import pyarrow as pa
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
        self._block_schema = pa.schema(
            [f for f in self._post_ds.schema if f.name != "chunk"]
        )
        self._block_cols = self._block_schema.names
        self._frame_cols = [*self._block_cols, "max_tfc"]
        self.postings = _ColumnsShim(self._block_cols)
        self._expansion_cache: dict = {}
        # (sorted terms, their term_ids, their dfs): loaded on first use
        self._terms: tuple | None = None
        self._footers, self._row_groups = _row_group_map(self._post_ds.files)
        # hot-term block cache: term_id → (its block rows as one array
        # per frame column, their bytes).  The serving analog of a hot Lucene
        # searcher's working set — repeat queries over a hot index never
        # touch parquet again.  Entries hold ENCODED blocks (varint
        # bytes, ~3 B/posting); the budget bounds the encoded bytes plus
        # the arrays' own nbytes.  Plain LRU via dict reinsertion order.
        self._max_cached_bytes = int(max_cached_bytes)
        self._cached_bytes = 0
        self._block_cache: dict[int, tuple[dict, int]] = {}
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
        generation was opened (all caches drop).  The one index writer
        (build/checkpoint.py, for build_and_write and write_index)
        replaces the manifest last and atomically via os.replace, so
        its mtime marks the generation.  Unlike Lucene's immutable
        segment files, an in-place overwrite deletes the old parquet
        files — call refresh() before serving after a rewrite; a stale
        handle errors loudly rather than serving a torn snapshot."""
        p = os.path.join(self.out_dir, "manifest.json")
        if os.path.getmtime(p) == self._manifest_mtime:
            return False
        self.__init__(self.out_dir, self._max_cached_bytes)
        return True

    # -- planner surface -------------------------------------------------

    def scalar_stats(self) -> tuple[int, float]:
        return self._stats

    def _term_directory(self) -> tuple[list, np.ndarray, np.ndarray]:
        """The whole dictionary as (terms in sorted order, their
        term_ids, their dfs), read on first use and then resident — the
        terms index Lucene keeps in memory.  Arrow sorts strings by
        their UTF-8 bytes, which is Python's code-point order, so
        bisect on the list finds any key."""
        if self._terms is None:
            tbl = self._dict_ds.to_table(
                columns=["term", "term_id", "df"]
            ).sort_by("term")
            self._terms = (
                tbl["term"].to_pylist(),
                tbl["term_id"].to_numpy(),
                tbl["df"].to_numpy(),
            )
        return self._terms

    def lookup_terms(self, keys) -> dict:
        """Same contract as BzzzIndex.lookup_terms: {key: (term_id, df)}
        for the present subset — a binary search per key in the
        in-memory term directory instead of a Spark job."""
        terms, tids, dfs = self._term_directory()
        out = {}
        for k in keys:
            i = bisect_left(terms, k)
            if i < len(terms) and terms[i] == k:
                out[k] = (int(tids[i]), int(dfs[i]))
        return out

    def expand_candidates(self, patterns, prefixes) -> list[list[str]]:
        """Wildcard/Fuzzy pattern expansion against the in-memory term
        directory — the LocalIndex analog of executor.expand_multiterm,
        through the same exact matcher (executor._exact_matches) over
        every (term, df) of the directory and the same max_expansion
        cut (_cap_by_df: top-N by (df desc, term asc), the
        TopTermsRewrite cut).  One sorted list per pattern."""
        from bzzz_spark.query.executor import _cap_by_df, _exact_matches

        terms, _, dfs = self._term_directory()
        return [
            sorted(_cap_by_df(
                _exact_matches(p, pre, zip(terms, dfs.tolist())),
                getattr(p, "max_expansion", None),
            ))
            for p, pre in zip(patterns, prefixes)
        ]

    # -- block + doc fetch -------------------------------------------------

    def _read_blocks(self, tids: list[int]):
        """The block rows of the given terms, read from the row groups
        whose footer term_id range covers one of them (a row group
        without min/max statistics covers every term) — one
        read_row_group per group, through the footer kept at open, so
        no footer is re-read and no file stays open.  Rows are filtered
        by term_id in Arrow, before any conversion: converting a whole
        row group's binary columns costs more than reading it."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        want = np.sort(np.asarray(tids, dtype=np.int64))
        file_of, group, lo, hi = self._row_groups
        covers = (np.searchsorted(want, lo, "left")
                  < np.searchsorted(want, hi, "right"))
        tables = []
        for f in np.unique(file_of[covers]):
            path, md = self._footers[f]
            with pq.ParquetFile(path, metadata=md) as pf:
                tables += [
                    pf.read_row_group(int(g), columns=self._block_cols)
                    for g in group[covers & (file_of == f)]
                ]
        if not tables:
            return self._block_schema.empty_table()
        tbl = pa.concat_tables(tables)
        return tbl.filter(pc.is_in(
            tbl["term_id"],
            value_set=pa.array(want, type=tbl.schema.field("term_id").type),
        ))

    def fetch_blocks(self, term_ids) -> pd.DataFrame:
        """Posting blocks for the given terms (each once, however often
        it is named), as one pandas frame: the on-disk columns plus
        ``max_tfc`` (query.blocks.impacts_max_tfc).  A cold term is read
        from only the row groups its footer range covers (_read_blocks),
        so a query reads only its own terms' bytes.  Cache hits skip
        parquet and the impacts decode entirely (see _block_cache)."""
        from bzzz_spark.query.blocks import impacts_max_tfc

        tids = list(dict.fromkeys(int(t) for t in term_ids))
        missing = [t for t in tids if t not in self._block_cache]
        if missing:
            tbl = self._read_blocks(missing)
            col = {c: tbl.column(c).to_numpy(zero_copy_only=False)
                   for c in self._block_cols}
            col["max_tfc"] = impacts_max_tfc(col["impacts"], self._stats[1])
            order = np.argsort(col["term_id"], kind="stable")
            col = {c: v[order] for c, v in col.items()}
            tid_col = col["term_id"]
            for t in missing:
                lo = np.searchsorted(tid_col, t, "left")
                hi = np.searchsorted(tid_col, t, "right")
                # copies, so the entry holds only this term's rows
                cols = {c: v[lo:hi].copy() for c, v in col.items()}
                size = sum(
                    v.nbytes + (sum(map(len, v)) if v.dtype == object else 0)
                    for v in cols.values()
                )
                self._block_cache[t] = (cols, size)
                self._cached_bytes += size
        parts = []
        for t in tids:
            entry = self._block_cache.pop(t)  # reinsert = LRU touch
            self._block_cache[t] = entry
            parts.append(entry[0])
        while self._cached_bytes > self._max_cached_bytes:
            oldest = next(iter(self._block_cache))
            self._cached_bytes -= self._block_cache.pop(oldest)[1]
        if not parts:
            return pd.DataFrame(columns=self._frame_cols)
        # copy=False: the concatenations are fresh arrays, and leaving
        # them unconsolidated halves the frame's build and read-back
        return pd.DataFrame({
            c: np.concatenate([p[c] for p in parts])
            for c in self._frame_cols
        }, copy=False)

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
        Every writer writes docs/ docid-sorted, so the isin filter
        prunes row groups the same way the Spark reader's pushed filter
        does."""
        import pyarrow.compute as pc

        cols = None if columns is None else list(dict.fromkeys(columns))
        return self._docs_ds.to_table(
            columns=cols,
            filter=pc.field("docid").isin([int(d) for d in docids]),
        ).to_pandas()


_EMPTY = pd.DataFrame(
    {"docid": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
)


def _per_shard(
    shards: list[LocalIndex], node: ast.Query, k: int
) -> list[pd.DataFrame] | None:
    """Every shard's per-segment top-k (docid, score) from ONE plan:
    the query is planned (dictionary lookups, expansions, kernel
    construction) on shards[0] alone — the shards of one build share
    its dictionary and global stats, which ShardedIndex checks at open
    — and each shard fetches its own blocks for the plan's kernel.
    None for shapes the kernels can't serve."""
    from bzzz_spark.query.wand import plan_candidates

    plan = plan_candidates(shards[0], node, k)
    if plan is None:
        return None
    if plan.empty:
        return [_EMPTY.copy() for _ in shards]
    # the kernel runs the segments SERIALLY in this process: a thread
    # pool over segments measured 2-7x SLOWER (the kernels interleave
    # many small numpy calls, so threads convoy on the GIL).
    # Cross-segment/shard parallelism belongs to processes — one
    # LocalIndex per shard, like one reference node per shard.
    return [plan.kernel(s.fetch_blocks(plan.tids)) for s in shards]


def local_candidates(
    index: LocalIndex, node: ast.Query, k: int
) -> pd.DataFrame | None:
    """Per-segment top-k (docid, score) via the shared KernelPlan; None
    for shapes the kernels can't serve."""
    got = _per_shard([index], node, k)
    return None if got is None else got[0]


def _normalized(index: LocalIndex, query) -> "ast.Query":
    from bzzz_spark.query.executor import validate_fields
    from bzzz_spark.query.rewrite import normalize

    node = query if isinstance(query, ast.Query) else ast.parse_query(query)
    validate_fields(index, node)
    return normalize(node)


def _candidates(
    shards: list[LocalIndex], node: ast.Query, k: int | None = None
) -> list[pd.DataFrame]:
    """_per_shard for the serving entry points, which raise on shapes
    outside the kernel family.  k=None asks for every shard's FULL
    matched set — the serving analog of executor.execute: the kernels
    run with k = n_docs, so block-max pruning never cuts.  Facets,
    field sorts and non-term totals consume that (Lucene also abandons
    early termination for those collectors)."""
    if k is None:
        k = max(1, shards[0].scalar_stats()[0])
    got = _per_shard(shards, node, k)
    if got is None:
        raise ValueError(
            f"query shape {type(node).__name__} is outside the in-process "
            "serving family (block-max kernel shapes); run it through "
            "bzzz_spark.query.executor on the Spark runtime"
        )
    return got


def _top(
    shards: list[LocalIndex], query, size: int, page: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One page of the global top-k as (docid, score, shard position)
    arrays: every shard's per-segment top-k (k = page·size + size — the
    global top-k is a subset of their union), ONE (score desc, docid
    asc) order and the page slice (reference paging semantics,
    index_search.clj:272-273,306).  Docids are global, so this is the
    single-index comparator verbatim, ties included."""
    k = page * size + size
    parts = _candidates(shards, _normalized(shards[0], query), k)
    d = np.concatenate([p["docid"].to_numpy() for p in parts])
    s = np.concatenate([p["score"].to_numpy() for p in parts])
    at = np.repeat(np.arange(len(parts)), [len(p) for p in parts])
    top = np.lexsort((d, -s))[page * size: k]
    return d[top], s[top], at[top]


def local_search(
    index: LocalIndex, query: "ast.Query | dict | str", size: int = 20,
    page: int = 0
) -> pd.DataFrame:
    """Top-k hits (docid, score), rank- and score-identical to the
    Spark path's executor.search: same parse → validate → normalize
    pipeline, same per-segment kernels, same (score desc, docid asc)
    order and page slice.  Raises for shapes outside the kernel family
    — those are analytics queries that belong on the Spark runtime
    (executor.search)."""
    d, s, _ = _top([index], query, size, page)
    return pd.DataFrame({"docid": d, "score": s}, copy=False)


def local_matched(index: LocalIndex, query) -> pd.DataFrame:
    """The full matched set (docid, score) of one index."""
    return _candidates([index], _normalized(index, query))[0]


def _total_hits(shards: list[LocalIndex], query) -> int:
    """Reference totalHits (index_search.clj:287-288; summed across
    shards, index_search.clj:121): a bare term answers straight from
    the GLOBAL dictionary df — zero I/O beyond the memoized lookup —
    everything else counts its matched sets."""
    node = _normalized(shards[0], query)
    if isinstance(node, ast.Term):
        from bzzz_spark.query.executor import term_key

        key = term_key(shards[0], node.field_name, node.value)
        meta = shards[0].lookup_terms([key])
        return int(meta[key][1]) if key in meta else 0
    return sum(len(m) for m in _candidates(shards, node))


def local_total_hits(index: LocalIndex, query) -> int:
    """Total matches of one index (reference totalHits)."""
    return _total_hits([index], query)


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
    if use_analyzer:
        toks = index.doc_tokens(facet_field, docids)
        return Counter(t for doc_toks in toks for t in doc_toks)
    sel = index.doc_values(facet_field, docids)
    if index.column_is_array(facet_field):
        # explode drops null arrays on the Spark path
        return Counter(
            v for arr in sel
            if not (arr is None or (isinstance(arr, float) and pd.isna(arr)))
            for v in arr
        )
    counts = pd.Series(sel).value_counts(dropna=False)
    return {None if pd.isna(v) else v: int(c) for v, c in counts.items()}


def _facet_counts(
    shards: list[LocalIndex], query, facet_field: str, size: int,
    use_analyzer: bool,
) -> pd.DataFrame:
    """EXACT facet counts: each shard's label counts over its full
    matched set, summed UNCUT, then one (count desc, label asc) cut —
    the executor.facet_counts order (nulls first on the ascending
    label, Spark's asc default).  The reference documents its post-cut
    shard merge as approximate (index_search.clj:186-204)."""
    counts: Counter = Counter()
    node = _normalized(shards[0], query)
    for s, m in zip(shards, _candidates(shards, node)):
        docids = m["docid"].to_numpy().astype(np.int64)
        counts.update(_label_counts(s, docids, facet_field, use_analyzer))
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
    return _facet_counts([index], query, facet_field, size, use_analyzer)


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


def _sorted_search(
    shards: list[LocalIndex], query, sort: list, size: int, page: int,
) -> tuple[pd.DataFrame, list[tuple[str, str]]]:
    """One page by field sort keys (reference T3/T4,
    index_search.clj:96-103,209-244): the matched sets with one column
    per sort key (_score is the BM25 match score, _doc the docid, field
    keys come from each shard's cached doc-values arrays) and the
    shard position (__shard), ordered by the executor's comparator —
    per key asc/desc with NULLS LAST, then docid ascending."""
    specs = _sort_plan(sort)
    parts = []
    node = _normalized(shards[0], query)
    for si, (s, m) in enumerate(zip(shards, _candidates(shards, node))):
        m = m.rename(columns={"score": "_score"})
        docids = m["docid"].to_numpy().astype(np.int64)
        for name, _ in specs:
            if name == "_doc":
                m["_doc"] = m["docid"]
            elif name != "_score":
                m[name] = s.doc_values(name, docids)
        m["__shard"] = si
        parts.append(m)
    top = pd.concat(parts, ignore_index=True).sort_values(
        by=[n for n, _ in specs] + ["docid"],
        ascending=[o == "asc" for _, o in specs] + [True],
        na_position="last", kind="mergesort",
    ).iloc[page * size: page * size + size]
    return top.reset_index(drop=True), specs


def local_sorted_search(
    index: LocalIndex, query, sort: list, size: int = 20, page: int = 0,
    with_sort_values: bool = False,
) -> pd.DataFrame:
    """Top-k by field sort keys on the serving tier — rank-identical to
    executor.sorted_search for field/_score/_doc sorts (reference T3/T4
    + T6 `_sort` values, index_search.clj:209-250).  Expression sorts
    raise → Spark runtime."""
    top, specs = _sorted_search([index], query, sort, size, page)
    out = pd.DataFrame({"docid": top["docid"], "score": top["_score"]})
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
