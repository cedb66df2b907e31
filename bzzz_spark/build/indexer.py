"""SPIMI-style inverted-index build over transcript tables.

Reference behavior being rebuilt (NOT ported): bzzz's store path opens a
Lucene IndexWriter per request, routes each document to an internal
shard by hash, analyzes fields and commits in two phases
(reference: src/bzzz/index_store.clj:95-157, index_directory.clj:210-240).
The Spark-first rebuild is a declarative pipeline:

  transcripts (conv_id, turn_idx, role, text, tool, ts)
    │  dedup upserts: latest ts per (conv_id, turn_idx)         [S3]
    ▼
  docs  docid = dense rank over (conv_id, turn_idx)  — two-pass range
        partition + offsets, no global window (build/ids.py)
        + tokens (JVM-regex analyzer) + dl
    │  explode → map-side partial agg (SPIMI local combining)
    ▼
  tf    (term, docid, dl, tf)           term-partitioned shuffle
    ▼
  dictionary (term, term_id, df, cf)    + stats (N, avgdl)
    │  join df back (AQE skew-join splits the head-term side)
    ▼
  posting rows (term_id, segment, docid, tf, dl, df)
    │  segment = docid // segment_size — the skew salt: a head term's
    │  postings split across ALL segments, so no single task ever holds
    │  more than segment_size postings of one term.  Segments double as
    │  the query-time unit of parallelism (Lucene leaf ≙ segment).
    ▼
  postings blocks — delta-gap + varint, ≤ block_size postings/block,
        per-block max_tf / max BM25 score (block-max WAND metadata)

Every stage is a DataFrame op; Python appears only in the Arrow-batched
block encoder (numpy codec, no per-row Python).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bzzz_spark.analysis.tokenizer import standard_tokenize
from bzzz_spark.build.codec import encode_varints, varint_lengths as _varint_lengths
from bzzz_spark.build.ids import assign_sequential_ids
from bzzz_spark.query.scoring import score_np

POSTINGS_SCHEMA = (
    "term_id long, segment int, block_id int, first_docid long, "
    "last_docid long, count int, doc_gaps binary, tfs binary, "
    "dls binary, block_max_tf int, block_max_score double"
)


def postings_schema(store_positions: bool, docvalue_cols: tuple = ()) -> str:
    """Block schema.  `dls` is the inline norms stream (one varint
    document length per posting; 0 = norms disabled → score with
    avgdl): with dl carried in the block, scoring a term reads ONLY its
    pruned posting blocks — no per-query join against a docs/norms
    table, which at 10^12 docs would shuffle terabytes per query.
    (Lucene reads norms from a per-segment sidecar file — node-local;
    the Spark equivalent of "local" is "inside the block you already
    decoded".)  With positions enabled each block carries a further
    varint stream (per-posting within-doc position deltas — the
    PhraseQuery substrate, mirroring Lucene's .pos file).  Each
    docvalue col adds a further zigzag-varint stream (one value per
    posting — Lucene's per-segment NumericDocValues sidecar, inlined
    the same way as norms so range predicates evaluate inside the
    scoring kernel with zero extra I/O)."""
    s = POSTINGS_SCHEMA + (", positions binary" if store_positions else "")
    for c in docvalue_cols:
        s += f", dv_{c} binary"
    return s


@dataclass
class IndexConfig:
    block_size: int = 128
    segment_size: int = 1 << 16
    num_partitions: int | None = None
    store_text: bool = True
    # posting-merge strategy:
    #   "aligned" — segments are aligned to the docs frame's partitions
    #     (docids are per-partition contiguous after assign_sequential_ids),
    #     so posting rows never shuffle: tokenize → explode →
    #     broadcast-join dictionary → sortWithinPartitions → encode, all
    #     narrow.  Requires the dictionary to fit in a broadcast
    #     (fine to ~tens of millions of terms).
    #   "shuffle" — classic term-partitioned shuffle merge; works for
    #     unbounded vocabularies and docs read back from parquet whose
    #     partition layout is file-split-dependent (the checkpointed
    #     build uses this so resumed chunks stay bit-identical).
    merge_mode: str = "aligned"
    # positional postings (phrase-query substrate).  Off by default: the
    # north-rule posting layout is (docid, tf) blocks, and positions add
    # ~2x encode work + bytes.  Indexes built with it answer Phrase
    # queries; without it they raise.
    store_positions: bool = False
    # schema mapping — defaults are the transcript shape from the build
    # spec; any table with a unique key + a text column can be indexed
    # (e.g. key_cols=("doc_id",) for the documents table)
    key_cols: tuple = ("conv_id", "turn_idx")
    text_col: str = "text"
    ts_col: str | None = "ts"  # None → skip upsert dedup
    # extra per-field inverted indexes (the reference indexes EVERY doc
    # field, queries carry `field` — src/bzzz/index_store.clj:36-49).
    # Each entry is (column_name, analyzer) with analyzer "keyword"
    # (whole lowercased value = one term; reference `_not_analyzed`
    # convention, util.clj:74-78) or "standard".  Field terms live in
    # the same dictionary/postings keyed "<field>:<token>", indexed with
    # norms DISABLED (reference `_no_norms` convention, util.clj:74-124):
    # their BM25 length factor is pinned to 1 (dl := avgdl).
    extra_fields: tuple = ()
    # numeric doc-values inlined per posting (Lucene NumericDocValues):
    # integer-typed doc columns whose values are zigzag-varint encoded
    # into each block alongside the norms stream.  Range predicates on
    # these columns then evaluate INSIDE the WAND kernel — a
    # `term AND range` query stays on the narrow block-pruned top-k
    # path instead of joining the docs table.  Costs ~1 varint per
    # posting per column.
    docvalue_cols: tuple = ()

    def to_dict(self) -> dict:
        return {
            "block_size": self.block_size, "segment_size": self.segment_size,
            "store_text": self.store_text,
            "key_cols": list(self.key_cols), "text_col": self.text_col,
            "ts_col": self.ts_col, "merge_mode": self.merge_mode,
            "store_positions": self.store_positions,
            "extra_fields": [list(x) for x in self.extra_fields],
            "docvalue_cols": list(self.docvalue_cols),
        }


@dataclass
class BzzzIndex:
    docs: DataFrame
    dictionary: DataFrame
    postings: DataFrame
    stats: DataFrame  # single row: n_docs, avgdl
    config: IndexConfig = field(default_factory=IndexConfig)
    # False for live (streaming-delta) indexes whose block-max metadata
    # was written under older collection stats: stale bounds could prune
    # unsafely, so search() routes them through the exhaustive path.
    wand_safe: bool = True
    # memoized (n_docs, avgdl) — immutable for a snapshot index; streaming
    # deltas produce a NEW BzzzIndex, so the cache can never go stale.
    _stats: tuple | None = field(default=None, repr=False, compare=False,
                                 init=False)
    # memoized dictionary lookups: term key → (term_id, df) or None for
    # terms proven absent.  Same snapshot-immutability argument; grows
    # only with DISTINCT queried terms (a few bytes each), the serving
    # analog of Lucene's term-dictionary block cache.
    _term_cache: dict = field(default_factory=dict, repr=False, compare=False,
                              init=False)
    # memoized Wildcard/Fuzzy expansions: (kind, field, value, params) →
    # list of matching dictionary terms.  Same snapshot-immutability
    # argument as _term_cache — the dictionary never changes under a
    # BzzzIndex, so a repeated pattern costs zero dictionary jobs.
    _expansion_cache: dict = field(default_factory=dict, repr=False,
                                   compare=False, init=False)
    # serving layout: True after persist(layout="segment") repartitions
    # the postings by segment — query kernels then run as NARROW
    # mapInPandas tasks (zero per-query shuffle; see query/wand.py).
    segment_aligned: bool = field(default=False, repr=False, compare=False,
                                  init=False)
    # the pre-alignment postings frame (kept so unpersist() can release
    # BOTH cached copies after a persist(layout="segment"))
    _build_postings: DataFrame | None = field(default=None, repr=False,
                                              compare=False, init=False)

    def scalar_stats(self) -> tuple[int, float]:
        if self._stats is None:
            row = self.stats.collect()[0]
            object.__setattr__(
                self, "_stats", (int(row["n_docs"]), float(row["avgdl"]))
            )
        return self._stats

    def lookup_terms(self, keys) -> dict:
        """term keys → {key: (term_id, df)} for the PRESENT subset.

        One dictionary job for the not-yet-seen keys only; repeat
        queries over a hot index cost zero dictionary jobs.  Negative
        results are cached too (a missing must-term is the common
        early-exit)."""
        keys = list(keys)
        missing = [k for k in keys if k not in self._term_cache]
        if missing:
            rows = (
                self.dictionary.filter(F.col("term").isin(missing))
                .select("term", "term_id", "df")
                .collect()
            )
            found = {r["term"]: (int(r["term_id"]), int(r["df"])) for r in rows}
            for k in missing:
                self._term_cache[k] = found.get(k)
        return {k: v for k in keys if (v := self._term_cache[k]) is not None}

    def persist(
        self,
        level: str = "MEMORY_AND_DISK",
        layout: str | None = "segment",
        partitions: int | None = None,
    ) -> "BzzzIndex":
        """Pin the index frames in executor memory for serving.

        The reference keeps a long-lived IndexSearcher per shard and
        refreshes it every 5 s (src/bzzz/index_directory.clj:129-132);
        our snapshot-isolated analog is persisting the dictionary /
        postings / docs DataFrames so repeated queries skip the parquet
        scan + decode.  Safe at any scale Spark itself is safe at:
        MEMORY_AND_DISK spills partitions that don't fit.  Lazy — the
        first query materializes each frame.

        layout="segment" (default) pays ONE repartition-by-segment
        shuffle at pin time so that every later query runs its scoring
        kernels as narrow mapInPandas tasks over co-located segments —
        the per-query groupBy(segment) exchange disappears, which is
        most of Spark's fixed per-query latency floor.  This is the
        cluster analog of the reference holding each Lucene shard's
        segments node-local under a long-lived searcher.  layout=None
        keeps the build partitioning (cheaper pin, per-query shuffle).

        ``partitions`` sizes the serving layout.  A query's kernel work
        is bounded by its own terms' blocks, so serving wants FEW large
        partitions (each narrow task costs a Python round-trip ~10 ms;
        32 tasks of trivial decode are slower than 8) — default
        max(8, shuffle_partitions // 4) here; on a multi-executor
        cluster set it to ~the executor count so every node holds a
        slice and queries still fan out across the cluster.  Rows are
        additionally sorted by term_id within partitions so the cached
        columnar batches carry tight term_id min/max stats and the
        per-query isin filter skips whole batches (see session.py
        inMemoryColumnarStorage.batchSize)."""
        from pyspark import StorageLevel

        if layout == "segment" and not self.segment_aligned:
            spark = self.postings.sparkSession
            if partitions is None:
                n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
                partitions = max(8, n // 4)
            self._build_postings = self.postings
            self.postings = self.postings.repartition(
                int(partitions), F.col("segment")
            ).sortWithinPartitions("term_id")
            self.segment_aligned = True
        lvl = getattr(StorageLevel, level)
        for df in (self.dictionary, self.postings, self.docs, self.stats):
            df.persist(lvl)
        return self

    def unpersist(self) -> "BzzzIndex":
        frames = [self.dictionary, self.postings, self.docs, self.stats]
        if self._build_postings is not None:
            frames.append(self._build_postings)
        for df in frames:
            df.unpersist()
        return self


def dedup_upserts(
    df: DataFrame, key_cols: tuple = ("conv_id", "turn_idx"), ts_col: str = "ts"
) -> DataFrame:
    """Keep the latest row per document key.

    Reference semantics: updateDocument(Term("id", ...)) delete-then-add
    (reference: src/bzzz/index_store.clj:109-113).  The window hashes by
    the doc key, so it scales (no global sort).
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def build_docs(table: DataFrame, cfg: IndexConfig) -> DataFrame:
    """docs table: dense docid over key_cols, tokens, dl + all stored cols."""
    deduped = (
        dedup_upserts(table, cfg.key_cols, cfg.ts_col) if cfg.ts_col else table
    )
    with_ids = assign_sequential_ids(
        deduped, list(cfg.key_cols), "docid", cfg.num_partitions
    )
    docs = with_ids.withColumn(
        "tokens", standard_tokenize(F.col(cfg.text_col))
    ).withColumn("dl", F.size("tokens"))
    stored = [c for c in table.columns if cfg.store_text or c != cfg.text_col]
    return docs.select("docid", *stored, "dl", "tokens")


def build_tf(
    docs: DataFrame, with_positions: bool = False, dv_cols: tuple = (),
) -> DataFrame:
    """(term, docid, dl, tf[, positions]) — the SPIMI local-combining step.

    tf is computed INSIDE each doc's token array with JVM array
    functions — a narrow, shuffle-free stage.  Per-doc cost is
    O(distinct × len); for transcript-length docs (tens of tokens) this
    is far cheaper than shuffling ~one row per (term, doc) pair: the
    explode→groupBy alternative shuffles a near-unique key set
    (measured 3× slower end-to-end at 2M turns).

    with_positions adds a sorted ``positions: array<int>`` column (the
    0-based token offsets of the term within the doc; size == tf) —
    still entirely JVM-side.
    """
    dv = list(dv_cols)
    toks = F.col("tokens")
    if with_positions:
        idxs = F.sequence(F.lit(0), F.size(toks) - 1)
        pairs = F.transform(
            F.array_distinct(toks),
            lambda t: F.struct(
                t.alias("term"),
                F.filter(
                    idxs, lambda i: F.element_at(toks, i + 1) == t
                ).alias("positions"),
            ),
        )
        return (
            docs.filter(F.size(toks) > 0)  # sequence(0,-1) is invalid
            .select("docid", "dl", *dv, F.explode(pairs).alias("p"))
            .select(
                F.col("p.term").alias("term"), "docid", "dl",
                F.size("p.positions").cast("long").alias("tf"),
                F.col("p.positions").alias("positions"), *dv,
            )
        )
    pairs = F.transform(
        F.array_distinct(toks),
        lambda t: F.struct(
            t.alias("term"),
            F.size(F.filter(toks, lambda x: x == t)).cast("long").alias("tf"),
        ),
    )
    return docs.select(
        "docid", "dl", *dv, F.explode(pairs).alias("p")
    ).select(
        F.col("p.term").alias("term"), "docid", "dl",
        F.col("p.tf").alias("tf"), *dv,
    )


def field_tokens_col(fname: str, analyzer: str):
    """Tokens Column for one extra field, already key-prefixed
    '<field>:<token>'.  ':' cannot occur inside a token (the standard
    analyzer emits [\\p{L}\\p{N}_]+ runs), so keys never collide with
    text terms."""
    c = F.col(fname).cast("string")
    if analyzer == "keyword":
        toks = F.filter(
            F.array(F.lower(c)), lambda t: t.isNotNull() & (t != F.lit(""))
        )
    elif analyzer == "standard":
        toks = standard_tokenize(c)
    else:
        raise ValueError(f"unknown field analyzer {analyzer!r}")
    return F.transform(toks, lambda t: F.concat(F.lit(fname + ":"), t))


def build_field_tf(docs: DataFrame, cfg: IndexConfig) -> list[DataFrame]:
    """One tf leg per extra field: (term='<field>:<token>', docid, dl,
    tf[, positions]).  dl is the norms-disabled SENTINEL 0 (a real
    posting always has dl ≥ 1): the encoder and the query-time scorer
    both substitute avgdl, making the BM25 length factor exactly 1 —
    Lucene's omit-norms.  Each leg derives NARROWLY from docs (partition
    ids preserved → aligned segment numbering stays valid per leg)."""
    legs = []
    for fname, analyzer in cfg.extra_fields:
        leg_docs = docs.select(
            "docid",
            F.lit(0.0).alias("dl"),
            *cfg.docvalue_cols,
            field_tokens_col(fname, analyzer).alias("tokens"),
        )
        legs.append(
            build_tf(
                leg_docs, with_positions=cfg.store_positions,
                dv_cols=cfg.docvalue_cols,
            )
        )
    return legs


def build_tf_positioned(docs: DataFrame, positioned_col: str = "ptokens") -> DataFrame:
    """(term, docid, dl, tf, positions) from an explicit
    array<struct<term, pos>> column — the integration point for analyzer
    chains that override position increments (A13 position filter,
    reference src/bzzz/analyzer.clj:82).  Positions may repeat (increment
    0 stacks tokens); tf counts occurrences, positions keep duplicates
    sorted, matching Lucene's posting of same-position terms."""
    return (
        docs.select(
            "docid", "dl", F.explode(positioned_col).alias("p")
        )
        .groupBy(F.col("p.term").alias("term"), "docid", "dl")
        .agg(F.sort_array(F.collect_list("p.pos")).alias("positions"))
        .withColumn("tf", F.size("positions").cast("long"))
        .select("term", "docid", "dl", "tf", "positions")
    )


def build_dictionary(tf: DataFrame, cfg: IndexConfig) -> DataFrame:
    agg = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    return assign_sequential_ids(agg, ["term"], "term_id", cfg.num_partitions)


def _make_block_encoder(n_docs: int, avgdl: float, cfg: IndexConfig):
    """Arrow-streaming block encoder.

    Input partitions are hash-partitioned by (term_id, segment) and
    sorted by (term_id, segment, docid).  Arrow may split a group across
    record batches, so the encoder carries the trailing (possibly
    incomplete) group to the next batch — blocks always reach
    block_size regardless of Arrow batch boundaries, keeping output
    bytes deterministic.
    """
    block_size = cfg.block_size
    store_pos = cfg.store_positions
    dv_cols = list(cfg.docvalue_cols)

    def encode_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        """Encode a whole partition's groups in vectorized passes: one
        varint encode for ALL gaps, one for ALL tfs, `reduceat` for
        per-block metadata — the only per-block Python is buffer
        slicing.  Output bytes are identical to a per-block encode."""
        n = len(pdf)
        t = pdf["term_id"].to_numpy()
        s = pdf["segment"].to_numpy()
        d = pdf["docid"].to_numpy()
        tf = pdf["tf"].to_numpy().astype(np.int64)
        dl = pdf["dl"].to_numpy()
        dfreq = pdf["df"].to_numpy()

        grp_change = np.zeros(n, dtype=bool)
        grp_change[0] = True
        grp_change[1:] = (t[1:] != t[:-1]) | (s[1:] != s[:-1])
        grp_starts = np.flatnonzero(grp_change)
        # row index within its group
        rwg = np.arange(n) - np.repeat(
            grp_starts, np.diff(np.append(grp_starts, n))
        )
        blk_start = (rwg % block_size) == 0
        bstarts = np.flatnonzero(blk_start)
        bends = np.append(bstarts[1:], n)
        counts = bends - bstarts

        # per-posting BM25 scores (exact dl; dl == 0 is the norms-
        # disabled sentinel → length factor 1 via dl := avgdl), block
        # maxima via reduceat
        dl_int = dl.astype(np.int64)
        dl_eff = np.where(dl_int == 0, avgdl, dl).astype(np.float64)
        scores = score_np(tf, dl_eff, dfreq.astype(np.float64), n_docs, avgdl)
        block_max_score = np.maximum.reduceat(scores, bstarts)
        block_max_tf = np.maximum.reduceat(tf, bstarts)

        # gaps: within-block diffs (block-start rows store no gap)
        gaps_full = np.empty(n, dtype=np.int64)
        gaps_full[0] = 0
        gaps_full[1:] = d[1:] - d[:-1]
        keep = ~blk_start
        gap_vals = gaps_full[keep]
        gap_buf = encode_varints(gap_vals)
        gap_nb_full = np.zeros(n, dtype=np.int64)
        gap_nb_full[keep] = _varint_lengths(gap_vals)
        gap_lens = np.add.reduceat(gap_nb_full, bstarts)
        gap_offs = np.concatenate(([0], np.cumsum(gap_lens)))

        tf_vals = tf - 1
        tf_buf = encode_varints(tf_vals)
        tf_lens = np.add.reduceat(_varint_lengths(tf_vals), bstarts)
        tf_offs = np.concatenate(([0], np.cumsum(tf_lens)))

        # inline norms: one varint dl per posting (0 = norms disabled)
        dl_buf = encode_varints(dl_int)
        dl_lens = np.add.reduceat(_varint_lengths(dl_int), bstarts)
        dl_offs = np.concatenate(([0], np.cumsum(dl_lens)))

        nb = bstarts.size
        gmv = memoryview(gap_buf)
        tmv = memoryview(tf_buf)
        dmv = memoryview(dl_buf)
        out = {
            "term_id": t[bstarts],
            "segment": s[bstarts],
            "block_id": (rwg[bstarts] // block_size).astype(np.int32),
            "first_docid": d[bstarts],
            "last_docid": d[bends - 1],
            "count": counts.astype(np.int32),
            "doc_gaps": [
                bytes(gmv[gap_offs[i]:gap_offs[i + 1]]) for i in range(nb)
            ],
            "tfs": [bytes(tmv[tf_offs[i]:tf_offs[i + 1]]) for i in range(nb)],
            "dls": [bytes(dmv[dl_offs[i]:dl_offs[i + 1]]) for i in range(nb)],
            "block_max_tf": block_max_tf.astype(np.int32),
            "block_max_score": block_max_score,
        }
        if store_pos:
            # positions stream: delta-encoded with a reset (absolute
            # value) at each posting start; blocks cut at posting
            # boundaries, so every block's slice decodes independently
            # given its tfs.  Same vectorized discipline as gaps: ONE
            # varint encode for the whole partition, per-block slicing.
            pos_flat = np.concatenate(pdf["positions"].to_numpy()).astype(
                np.int64, copy=False
            )
            row_starts = np.concatenate(([0], np.cumsum(tf)[:-1]))
            pv = pos_flat.copy()
            pv[1:] -= pos_flat[:-1]
            pv[row_starts] = pos_flat[row_starts]
            pos_buf = encode_varints(pv)
            row_bytes = np.add.reduceat(_varint_lengths(pv), row_starts)
            pos_lens = np.add.reduceat(row_bytes, bstarts)
            pos_offs = np.concatenate(([0], np.cumsum(pos_lens)))
            pmv = memoryview(pos_buf)
            out["positions"] = [
                bytes(pmv[pos_offs[i]:pos_offs[i + 1]]) for i in range(nb)
            ]
        for col in dv_cols:
            # inline numeric doc-values (Lucene NumericDocValues): one
            # zigzag varint per posting, same vectorized discipline.
            # NULLs are rejected loudly: Arrow delivers a nullable int
            # column as float64 with NaN, and NaN.astype(int64) is
            # garbage (INT64_MIN) that a range predicate would happily
            # match — whereas SQL NULL never matches.  The inline
            # stream has no null sentinel, so builds must fill or drop.
            raw = pdf[col].to_numpy()
            if raw.dtype.kind == "f" and np.isnan(raw).any():
                raise ValueError(
                    f"docvalue column {col!r} contains NULLs; inline "
                    "doc-values cannot represent SQL NULL range "
                    "semantics — fill or drop NULL rows, or leave the "
                    "column out of IndexConfig(docvalue_cols) to query "
                    "it via the docs table"
                )
            x = raw.astype(np.int64)
            z = (x << np.int64(1)) ^ (x >> np.int64(63))  # zigzag
            dv_buf = encode_varints(z)
            dv_lens = np.add.reduceat(_varint_lengths(z), bstarts)
            dv_offs = np.concatenate(([0], np.cumsum(dv_lens)))
            vmv = memoryview(dv_buf)
            out[f"dv_{col}"] = [
                bytes(vmv[dv_offs[i]:dv_offs[i + 1]]) for i in range(nb)
            ]
        return pd.DataFrame(out)

    def encode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in it:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            t = pdf["term_id"].to_numpy()
            s = pdf["segment"].to_numpy()
            # the trailing group may continue in the next batch — hold it
            last_mask = (t == t[-1]) & (s == s[-1])
            split = len(pdf) - int(last_mask.sum())
            carry = pdf.iloc[split:].reset_index(drop=True)
            done = pdf.iloc[:split]
            if len(done):
                yield encode_groups(done)
        if carry is not None and len(carry):
            yield encode_groups(carry)

    return encode


def build_posting_rows(
    tf: DataFrame, dictionary: DataFrame, cfg: IndexConfig
) -> DataFrame:
    """(term_id, segment, docid, tf, dl, df[, positions]) — segment is
    the skew salt."""
    extra = ["positions"] if "positions" in tf.columns else []
    extra += list(cfg.docvalue_cols)
    return (
        tf.join(dictionary.select("term", "term_id", "df"), "term")
        .withColumn(
            "segment", (F.col("docid") / F.lit(cfg.segment_size)).cast("int")
        )
        .select("term_id", "segment", "docid", "tf", "dl", "df", *extra)
    )


def encode_postings(
    posting_rows: DataFrame, n_docs: int, avgdl: float, cfg: IndexConfig
) -> DataFrame:
    """Term-partitioned shuffle merge (merge_mode="shuffle").

    Handles unbounded vocabularies; the price is a full shuffle of the
    (term, doc) pair stream, which measured as the build's dominant
    I/O cost (shuffle-write contention at high thread counts)."""
    spark = posting_rows.sparkSession
    n_part = cfg.num_partitions or spark.sparkContext.defaultParallelism
    arranged = posting_rows.repartition(
        n_part, "term_id", "segment"
    ).sortWithinPartitions("term_id", "segment", "docid")
    return arranged.mapInPandas(
        _make_block_encoder(n_docs, avgdl, cfg),
        schema=postings_schema(cfg.store_positions, cfg.docvalue_cols),
    )


def _aligned_segment_col(parts: list, segment_size: int):
    """segment = seg_base[pid] + (docid - doc_lo[pid]) // segment_size,
    from the per-partition (pid, lo, cnt) rows.  Valid on any frame
    derived NARROWLY from the docs frame (partition ids preserved)."""
    seg_base, lo_map, acc = {}, {}, 0
    for r in sorted(parts, key=lambda r: r["pid"]):
        seg_base[r["pid"]] = acc
        lo_map[r["pid"]] = int(r["lo"])
        acc += -(-int(r["cnt"]) // segment_size)  # ceil
    pid = F.spark_partition_id()
    base_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in sorted(seg_base.items()) for x in kv]),
        pid,
    )
    lo_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in sorted(lo_map.items()) for x in kv]),
        pid,
    )
    return (
        base_expr + F.floor((F.col("docid") - lo_expr) / segment_size)
    ).cast("int")


def collect_doc_partitions(docs: DataFrame) -> list:
    """One row per partition: (pid, lo=min docid, cnt) — docids are
    contiguous per partition by construction (assign_sequential_ids).

    The aligned merge's correctness rests on these ranges: every frame
    derived narrowly from docs must see the same (pid → docid range)
    mapping.  The invariant check below turns any narrow-breaking change
    upstream (a repartition, a filter before this projection, an
    unpersist) into an immediate error instead of silent segment
    corruption: sorted by pid, the (lo, lo+cnt) ranges must tile
    [0, n_docs) exactly — contiguous, non-overlapping, pid-ordered."""
    rows = (
        docs.select(F.spark_partition_id().alias("pid"), "docid")
        .groupBy("pid")
        .agg(F.min("docid").alias("lo"), F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    acc = 0
    for r in sorted(rows, key=lambda r: r["pid"]):
        if int(r["lo"]) != acc:
            raise RuntimeError(
                "aligned-merge invariant violated: partition docid ranges "
                f"do not tile [0, n): pid={r['pid']} starts at {r['lo']}, "
                f"expected {acc}.  A non-narrow transformation was applied "
                "to the docs frame between id assignment and the encode."
            )
        acc += int(r["cnt"])
    return rows


def encode_postings_aligned(
    parts: list,
    tf: DataFrame,
    dictionary: DataFrame,
    n_docs: int,
    avgdl: float,
    cfg: IndexConfig,
) -> DataFrame:
    """Shuffle-free posting encode (merge_mode="aligned").

    assign_sequential_ids leaves docids CONTIGUOUS per partition
    (docid = partition_offset + local_rank), so defining segments
    relative to each partition's offset makes every segment wholly
    owned by one partition.  The pair stream then never shuffles:

      tf (narrow from docs) → broadcast-join dictionary (term_id, df)
        → segment = seg_base[pid] + (docid - doc_lo[pid]) // segment_size
        → sortWithinPartitions(term_id, segment, docid) → Arrow encoder

    The only wide ops left in the whole build are the docid range
    shuffle (3M doc rows, not 75M pair rows) and the tiny dictionary
    aggregation.  Segment numbering differs from the shuffle path
    (per-partition tails may be short); nothing query-visible depends
    on it — blocks carry their own first/last docid bounds.
    """
    extra = ["positions"] if "positions" in tf.columns else []
    extra += list(cfg.docvalue_cols)
    if "segment" in tf.columns:
        # multi-field builds stamp the segment per tf LEG before the
        # union (spark_partition_id is only meaningful per leg — after a
        # union, partition ids renumber and the pid→range map would lie)
        seg_tf = tf
    else:
        seg_tf = tf.withColumn(
            "segment", _aligned_segment_col(parts, cfg.segment_size)
        )
    rows = (
        seg_tf
        .join(F.broadcast(dictionary.select("term", "term_id", "df")), "term")
        .select("term_id", "segment", "docid", "tf", "dl", "df", *extra)
    )
    arranged = rows.sortWithinPartitions("term_id", "segment", "docid")
    return arranged.mapInPandas(
        _make_block_encoder(n_docs, avgdl, cfg),
        schema=postings_schema(cfg.store_positions, cfg.docvalue_cols),
    )


def build_index(transcripts: DataFrame, cfg: IndexConfig | None = None) -> BzzzIndex:
    """In-memory (unmaterialized) index build — tests and small corpora.

    For the checkpointed, resumable on-disk build use
    :func:`bzzz_spark.build.checkpoint.build_and_write`.
    """
    cfg = cfg or IndexConfig()
    docs = build_docs(transcripts, cfg)
    if cfg.docvalue_cols:
        dtypes = dict(docs.dtypes)
        ok = {"tinyint", "smallint", "int", "bigint"}
        bad = [
            c for c in cfg.docvalue_cols
            if dtypes.get(c) not in ok
        ]
        if bad:
            raise ValueError(
                f"docvalue_cols must be integer-typed doc columns; got "
                f"{ {c: dtypes.get(c) for c in bad} } — floats would "
                "truncate in the zigzag-varint stream and disagree with "
                "the executor's docs-table range semantics"
            )
    # no extra cache here: assign_sequential_ids already persisted the
    # arranged rows; docs (tokenize + dl) derives narrowly from that.
    # Re-running the tokenizer per consumer is cheaper than doubling the
    # cache footprint (GC pressure measurably hurt wide builds).
    # tf feeds BOTH the dictionary and the posting rows — persist it so
    # the tokenize + in-array tf pass runs once (measured ~40% of the
    # encode phase when recomputed).  Extra-field legs are unioned in
    # with the norms-disabled dl sentinel 0.
    legs = [build_tf(docs, with_positions=cfg.store_positions,
                     dv_cols=cfg.docvalue_cols)]
    if cfg.extra_fields:
        legs[0] = legs[0].withColumn("dl", F.col("dl").cast("double"))
        legs.extend(build_field_tf(docs, cfg))
    parts = None
    if cfg.merge_mode == "aligned":
        parts = collect_doc_partitions(docs)
        # stamp segments per leg BEFORE any union: spark_partition_id is
        # only meaningful on frames derived narrowly from docs
        legs = [
            leg.withColumn(
                "segment", _aligned_segment_col(parts, cfg.segment_size)
            )
            for leg in legs
        ]
    tf = legs[0]
    for leg in legs[1:]:
        tf = tf.unionByName(leg)
    tf = tf.persist()
    # corpus stats WITHOUT a second tokenize pass over the text: n_docs
    # from the aligned partition ranges (already collected, one row per
    # partition) or a narrow count on the persisted id-arranged frame;
    # avgdl = (Σ tf over text-leg rows) / n_docs — the same number as
    # avg(dl) over all docs, since empty docs contribute 0 to both.
    # The tf agg doubles as tf's materializing action.  (Profiled at
    # local[32]/1M turns: the old docs.agg(avg(dl)) re-ran the
    # tokenizer for 5.4 s of a 40 s build.)
    n_docs = (
        sum(int(r["cnt"]) for r in parts)
        if parts is not None
        else docs.count()
    )
    tot_row = tf.agg(
        F.sum(F.when(F.col("dl") > 0, F.col("tf")).otherwise(F.lit(0)))
        .alias("tot")
    ).collect()[0]
    avgdl = (float(tot_row["tot"] or 0) / n_docs) if n_docs else 0.0
    dictionary = build_dictionary(tf, cfg)
    dictionary.cache()
    if cfg.merge_mode == "aligned":
        postings = encode_postings_aligned(parts, tf, dictionary, n_docs, avgdl, cfg)
        # docs carry their segment so the query side never needs the
        # docid//segment_size formula (which aligned numbering breaks)
        docs = docs.withColumn(
            "segment", _aligned_segment_col(parts, cfg.segment_size)
        )
    else:
        posting_rows = build_posting_rows(tf.drop("segment"), dictionary, cfg)
        postings = encode_postings(posting_rows, n_docs, avgdl, cfg)
        docs = docs.withColumn(
            "segment", (F.col("docid") / cfg.segment_size).cast("int")
        )
    stats = docs.sparkSession.createDataFrame(
        [(n_docs, avgdl)], "n_docs long, avgdl double"
    )
    return BzzzIndex(
        docs=docs.drop("tokens"),
        dictionary=dictionary,
        postings=postings,
        stats=stats,
        config=cfg,
    )
