"""Spark query executor: AST → DataFrame plan → top-k.

The reference's query lifecycle (SURVEY.md §3.1) is: parse JSON → Lucene
Query tree → per-segment doc-at-a-time scoring into a priority queue →
k-way merge across shards.  The Spark translation:

  parse JSON → AST (bzzz_spark.query.ast)
  → driver-side dictionary lookup of the query's terms (+ wildcard /
    fuzzy expansion against the dictionary — Lucene's rewrite())
  → decode only those terms' posting blocks (Arrow kernel; parquet
    row-group min/max stats on term_id prune the scan)
  → BM25 tf components in numpy at decode time (query.scoring, the
    kernels' formula) times the driver-computed idf
  → AST combinators as joins / unions / groupBy over (docid, score)
  → TakeOrderedAndProject for the top-k priority-queue merge —
    exactly Lucene's PQ, distributed, with the deterministic
    (score desc, docid asc) tie-break the north rule requires.

Block decoding and phrase matching run in Python workers; the
combinators run JVM-side.  For flat term / conjunctive queries,
:mod:`bzzz_spark.query.wand` provides the block-max pruned fast path;
this module is the exhaustive engine every operator lowers to and the
cross-check for WAND.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bzzz_spark.build.indexer import BzzzIndex
from bzzz_spark.query import ast
from bzzz_spark.query.blocks import Blocks, decode
from bzzz_spark.query.scoring import idf as idf_fn
from bzzz_spark.query.scoring import tf_component_np


def glob_to_regex(glob: str) -> str:
    """Lucene wildcard glob (* and ? only, per the reference's
    WildcardQuery — src/bzzz/queries/wildcard.clj:5-11) → anchored regex
    valid in BOTH Java regex (Spark rlike) and CPython re."""
    return (
        "^"
        + "".join(
            ".*" if ch == "*" else "." if ch == "?" else re.escape(ch)
            for ch in glob
        )
        + "$"
    )


def extra_field_map(index: BzzzIndex) -> dict[str, str]:
    """{field_name: analyzer} for the index's extra per-field indexes."""
    return dict(getattr(index.config, "extra_fields", ()) or ())


def term_key(index: BzzzIndex, field_name: str, value: str) -> str:
    """Dictionary key for a (field, value) term.  Default-field terms
    are bare tokens; extra-field terms are '<field>:<lower(value)>'
    (build-side keying in indexer.field_tokens_col)."""
    if field_name in extra_field_map(index):
        return f"{field_name}:{str(value).lower()}"
    return value


def _multiterm_cond(p, prefix: str = "") -> tuple:
    """Dictionary-side filter Column for one Wildcard/Fuzzy pattern —
    Lucene's multi-term rewrite pushed into the scan instead of a
    driver-side full-vocabulary collect (the reference rewrites against
    the term dictionary the same way: queries/wildcard.clj:5-11,
    fuzzy.clj:7-21).  At 10^8+ terms only the (small) expansion ever
    reaches the driver.  ``prefix`` scopes the pattern to an extra
    field's key space ('<field>:'); for the default field the condition
    excludes '<field>:' keys outright (text tokens cannot hold ':').

    Returns (cond, is_exact): is_exact=True means the Column matches
    EXACTLY the pattern's expansion set, so a SQL-side
    `orderBy(df desc).limit(max_expansion)` is already the correct
    TopTermsRewrite cut.  The one inexact case is fuzzy with
    transpositions=True: OSA distance has no Spark builtin, so the
    condition is the superset `levenshtein ≤ 2·max_edits` (one
    transposition = one OSA edit but two plain edits, so
    OSA ≤ e ⇒ lev ≤ 2e) and the exact OSA check runs driver-side on
    the collected candidates."""
    scope = (
        F.col("term").startswith(prefix)
        if prefix
        else ~F.col("term").contains(":")
    )
    if isinstance(p, ast.Wildcard):
        cond = scope & F.col("term").rlike(glob_to_regex(prefix + p.value))
        # leading-literal globs ("src1*", "err?r") get a cheap
        # startswith pre-filter ahead of the regex — Lucene's
        # PrefixQuery-style term-dictionary range pruning; the regex
        # stays authoritative for correctness
        lit_prefix = ""
        for ch in p.value:
            if ch in "*?":
                break
            lit_prefix += ch
        if lit_prefix:
            cond = F.col("term").startswith(prefix + lit_prefix) & cond
        return cond, True
    # Fuzzy: cheap codegen'd pre-filters (length band + prefix) ahead of
    # the levenshtein, mirroring Lucene's prefix_len discipline.  The
    # edit distance is measured on the bare token (field prefix
    # stripped), so field keys don't inflate it.
    bare = (
        F.col("term").substr(F.lit(len(prefix) + 1), F.length("term"))
        if prefix
        else F.col("term")
    )
    transpositions = getattr(p, "transpositions", False)
    # length band: every OSA/levenshtein op changes length by ≤1, so
    # the band is valid for both metrics
    lev_bound = p.max_edits * (2 if transpositions else 1)
    cond = scope & (
        F.abs(F.length(bare) - F.lit(len(p.value))) <= F.lit(p.max_edits)
    ) & (F.levenshtein(bare, F.lit(p.value)) <= F.lit(lev_bound))
    if p.prefix_len > 0:
        cond = bare.startswith(p.value[: p.prefix_len]) & cond
    return cond, not transpositions


def _pattern_prefix(index: BzzzIndex, p) -> str:
    return (
        f"{p.field_name}:" if p.field_name in extra_field_map(index) else ""
    )


def _exact_matches(p, prefix: str, cand: list[tuple]) -> list[tuple]:
    """Driver-side exact re-match of collected (term, df) candidates
    for one pattern (the authoritative check: the SQL cond may be a
    superset for transpositions, and candidates from other OR'd
    patterns flow through the shared collect).  Returns deduped
    (term, df) pairs in candidate order."""
    from bzzz_spark.oracle.pyoracle import fuzzy_distance_fn

    scoped = (
        ((t, t[len(prefix):], d) for t, d in cand if t.startswith(prefix))
        if prefix
        else ((t, t, d) for t, d in cand if ":" not in t)
    )
    if isinstance(p, ast.Wildcard):
        rx = re.compile(glob_to_regex(p.value))
        exp = [(t, d) for t, bare, d in scoped if rx.match(bare)]
    else:
        dist = fuzzy_distance_fn(getattr(p, "transpositions", False))
        # length band first: every levenshtein/OSA edit changes the
        # length by at most 1, and it keeps a full-vocabulary scan
        # (LocalIndex.expand_candidates) from paying the distance per term
        lo, hi = len(p.value) - p.max_edits, len(p.value) + p.max_edits
        exp = [
            (t, d)
            for t, bare, d in scoped
            if lo <= len(bare) <= hi
            and bare.startswith(p.value[: p.prefix_len])
            and dist(bare, p.value) <= p.max_edits
        ]
    return list(dict.fromkeys(exp))


def _cap_by_df(exp: list[tuple], cap: int | None) -> list[str]:
    """TopTermsRewrite cut: keep the top-cap terms by (df desc, term
    asc) — Lucene disciplines multi-term explosion the same way."""
    if cap is not None and len(exp) > cap:
        exp = sorted(exp, key=lambda td: (-td[1], td[0]))[:cap]
    return [t for t, _ in exp]


def _paged_expand(dictionary: DataFrame, p, prefix: str, cond) -> list[str]:
    """Exact-fill for the one inexact-cond case (fuzzy transpositions
    with a finite cap): keyset-paginated df-descending pages of the
    superset condition, OSA-checked driver-side, until `cap` exact
    matches are in hand or the superset is exhausted.  Each page is one
    bounded TakeOrderedAndProject job; page 1 almost always suffices
    (the lev≤2e superset of an OSA≤e ball is small)."""
    cap = int(p.max_expansion)
    page = max(64, 2 * cap)
    out: list[str] = []
    last = None
    while True:
        q = dictionary.filter(cond)
        if last is not None:
            last_df, last_term = last
            q = q.filter(
                (F.col("df") < last_df)
                | ((F.col("df") == last_df) & (F.col("term") > last_term))
            )
        rows = (
            q.orderBy(F.col("df").desc(), "term")
            .limit(page)
            .select("term", "df")
            .collect()
        )
        cand = [(r["term"], int(r["df"])) for r in rows]
        # pages arrive in (df desc, term asc) order, so the first `cap`
        # exact matches ARE the top-cap by that order
        out.extend(t for t, _ in _exact_matches(p, prefix, cand))
        if len(out) >= cap or len(rows) < page:
            break
        last = (rows[-1]["df"], rows[-1]["term"])
    return list(dict.fromkeys(out))[:cap]


def expand_multiterm(
    dictionary: DataFrame, patterns: list, prefixes: list[str] | None = None
) -> list[list[str]]:
    """Exact, max_expansion-capped dictionary expansions for ALL
    patterns — one per-pattern list, in as few Spark jobs as possible.

    Uncapped patterns and capped patterns with an exact SQL condition
    batch into ONE union job; a capped pattern's leg is pre-cut SQL-side
    with `orderBy(df desc, term).limit(cap)` (TopTermsRewrite), so the
    driver collect is bounded by Σ caps + the uncapped matches — never
    the vocabulary.  Fuzzy-with-transpositions + finite cap runs the
    keyset-paginated exact-fill instead (see _paged_expand)."""
    if not patterns:
        return []
    prefixes = prefixes or [""] * len(patterns)
    conds = [_multiterm_cond(p, pre) for p, pre in zip(patterns, prefixes)]
    legs = []
    paged: set[int] = set()
    for i, (p, (cond, is_exact)) in enumerate(zip(patterns, conds)):
        cap = getattr(p, "max_expansion", None)
        if cap is None:
            legs.append(dictionary.filter(cond).select("term", "df"))
        elif is_exact:
            legs.append(
                dictionary.filter(cond)
                .orderBy(F.col("df").desc(), "term")
                .limit(int(cap))
                .select("term", "df")
            )
        else:
            paged.add(i)
    cand: list[tuple] = []
    if legs:
        u = legs[0]
        for leg in legs[1:]:
            u = u.unionByName(leg)
        cand = [(r["term"], int(r["df"])) for r in u.collect()]
    out: list[list[str]] = []
    for i, (p, pre) in enumerate(zip(patterns, prefixes)):
        if i in paged:
            out.append(_paged_expand(dictionary, p, pre, conds[i][0]))
        else:
            out.append(
                _cap_by_df(
                    _exact_matches(p, pre, cand),
                    getattr(p, "max_expansion", None),
                )
            )
    return out


_BLOCK_COLS = ("term_id", "segment", "first_docid", "last_docid", "count",
               "block_max_score", "doc_gaps", "tfs", "dls")


def _tf_components(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> dict:
    """BM25 tf components of postings: ``tfc`` with the doc's inline
    norm (0 = norms disabled, scored as avgdl — the kernels' rule) and
    ``tfc_nn`` without norms (dl := avgdl, i.e. BM25 b = 0)."""
    return {"tfc": tf_component_np(tf, np.where(dl == 0, avgdl, dl), avgdl),
            "tfc_nn": tf_component_np(tf, avgdl, avgdl)}


def decode_postings(
    postings: DataFrame, term_ids: list[int], avgdl: float
) -> DataFrame:
    """Decode the blocks of the given terms → (term_id, docid, tf, dl,
    tfc, tfc_nn).

    The isin filter reaches the parquet scan (row-group pruning via
    min/max stats — postings are written sorted by term_id within
    files).  Each Arrow batch decodes through query.blocks, the
    kernels' decoder (one vectorized pass per stream).  dl comes from
    the inline norms stream, and tfc/tfc_nn are the BM25 tf components
    with and without norms (_tf_components), so scoring needs NO join
    against a docs/norms table — the whole query reads only the pruned
    posting blocks.
    """
    sub = postings.filter(
        F.col("term_id").isin([int(t) for t in term_ids])
    ).select(*_BLOCK_COLS)

    def dec(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            b = Blocks.from_frame(pdf)
            got = decode(b, np.arange(len(pdf)))
            yield pd.DataFrame({
                "term_id": np.repeat(b.term_id, b.count),
                "docid": got.d, "tf": got.tf, "dl": got.dl,
                **_tf_components(got.tf, got.dl, avgdl),
            })

    return sub.mapInPandas(
        dec, "term_id long, docid long, tf long, dl long, tfc double, "
             "tfc_nn double"
    )


def _phrase_matches(
    index: BzzzIndex, tid_order: list[int], slop: int, avgdl: float
) -> DataFrame:
    """Distributed phrase match → DataFrame(docid, tfc, tfc_nn), the
    tf components of each matching doc's phrase frequency.

    One task per touched segment; within a task the kernel decodes
    positions only for block ranges that can still hold a candidate.
    On a segment-aligned serving index (BzzzIndex.persist(
    layout="segment")) this runs as a NARROW mapInPandas — no shuffle;
    otherwise the blocks are grouped by segment first (small shuffle:
    only the phrase terms' blocks move)."""
    from bzzz_spark.query.phrase import phrase_segment_kernel

    if "positions" not in index.postings.columns:
        raise ValueError(
            "this index stores no positions — build it with "
            "IndexConfig(store_positions=True) to answer phrase queries"
        )
    uniq = sorted(set(int(t) for t in tid_order))
    blocks = index.postings.filter(F.col("term_id").isin(uniq))
    schema = "docid long, tfc double, tfc_nn double"

    def match(seg: pd.DataFrame) -> pd.DataFrame:
        m = phrase_segment_kernel(seg, tid_order, slop)
        return pd.DataFrame({
            "docid": m["docid"].to_numpy(),
            **_tf_components(m["ptf"].to_numpy(), m["dl"].to_numpy(), avgdl),
        })

    if getattr(index, "segment_aligned", False):

        def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts = [p for p in it if len(p)]
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True)
            for _, g in pdf.groupby("segment", sort=False):
                out = match(g)
                if len(out):
                    yield out

        return blocks.mapInPandas(run, schema)
    return blocks.groupby("segment").applyInPandas(match, schema)


class _Ctx:
    """Per-search state: dictionary lookups, expansions, one shared decode."""

    def __init__(self, index: BzzzIndex, node: ast.Query):
        self.index = index
        validate_fields(index, node)
        self.n_docs, self.avgdl = index.scalar_stats()

        # dictionary keys to prefetch: bare tokens for the default text
        # field, '<field>:<token>' for extra-field terms
        terms: set[str] = set()
        for n in ast.iter_nodes(node):
            if isinstance(n, ast.Term):
                terms.add(term_key(index, n.field_name, n.value))
            elif isinstance(n, ast.Phrase):
                terms.update(term_key(index, n.field_name, t) for t in n.terms)
        # wildcard/fuzzy expansion — Lucene's multi-term rewrite, pushed
        # into a dictionary filter (rlike / levenshtein Columns) with the
        # max_expansion TopTermsRewrite cut applied SQL-side; only the
        # (capped) expansion set is collected, never the vocabulary.
        # Memoized per index, like the lookups below
        from bzzz_spark.query.wand import _expand_scoped_many

        self.expansions: dict[tuple, list[str]] = {}
        patterns = _collect_multiterm(node)
        if patterns:
            exps = _expand_scoped_many(index, patterns)
            for p, exp in zip(patterns, exps):
                self.expansions[_mt_key(p)] = exp
                terms.update(exp)

        self.term_meta = index.lookup_terms(terms) if terms else {}
        spark = index.docs.sparkSession
        if self.term_meta:
            meta_df = spark.createDataFrame(
                [(t, tid, idf_fn(self.n_docs, df))
                 for t, (tid, df) in self.term_meta.items()],
                "term string, term_id long, idf double",
            )
            decoded = decode_postings(
                index.postings, [tid for tid, _ in self.term_meta.values()],
                self.avgdl,
            )
            # score_nn: the no-norm variant (Q16) for extra fields and
            # NoNorm subtrees
            self.scored = decoded.join(F.broadcast(meta_df), "term_id").select(
                "term", "docid",
                (F.col("idf") * F.col("tfc")).alias("score"),
                (F.col("idf") * F.col("tfc_nn")).alias("score_nn"),
            )
        else:
            self.scored = spark.createDataFrame(
                [], "term string, docid long, score double, score_nn double"
            )
        self.use_nonorm = False

    def empty(self) -> DataFrame:
        return self.index.docs.sparkSession.createDataFrame(
            [], "docid long, score double"
        )


def indexed_fields(index: BzzzIndex) -> set[str]:
    """Field names the index can answer term-ish queries on: the AST's
    default field alias "text", the configured text column, and any
    extra indexed fields (multi-field indexes)."""
    cfg = index.config
    out = {"text", cfg.text_col}
    out.update(name for name, _ in getattr(cfg, "extra_fields", ()) or ())
    return out


def validate_fields(index: BzzzIndex, node: ast.Query) -> None:
    """Unknown field names must raise, not silently score against the
    default text index (the reference carries per-field indexes —
    src/bzzz/index_store.clj:36-49 — so `role:assistant` means the role
    field; answering it from the text field would be a wrong answer)."""
    known = indexed_fields(index)
    bad = sorted(
        {
            n.field_name
            for n in ast.iter_nodes(node)
            if isinstance(n, (ast.Term, ast.Wildcard, ast.Fuzzy, ast.Phrase))
            and n.field_name not in known
        }
    )
    if bad:
        raise ValueError(
            f"query references unindexed field(s) {bad}; "
            f"this index answers fields {sorted(known)}"
        )


def _mt_key(p) -> tuple:
    if isinstance(p, ast.Wildcard):
        return ("w", p.field_name, p.value, p.max_expansion)
    return (
        "f", p.field_name, p.value, p.max_edits, p.prefix_len,
        p.max_expansion, p.transpositions,
    )


def _collect_multiterm(node: ast.Query) -> list:
    return [
        n for n in ast.iter_nodes(node) if isinstance(n, (ast.Wildcard, ast.Fuzzy))
    ]


def _tagged_union(dfs: list[DataFrame]) -> DataFrame:
    parts = [d.withColumn("tag", F.lit(i)) for i, d in enumerate(dfs)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _execute(node: ast.Query, ctx: _Ctx) -> DataFrame:
    """AST node → DataFrame(docid, score). Each node's output has unique
    docids, which the Bool/DisMax count-based combinators rely on."""
    docs = ctx.index.docs
    if isinstance(node, ast.Term):
        key = term_key(ctx.index, node.field_name, node.value)
        if key not in ctx.term_meta:
            return ctx.empty()
        # extra-field terms are indexed with norms disabled (dl:=avgdl
        # at build) — score them with the no-norm variant
        nonorm = ctx.use_nonorm or node.field_name in extra_field_map(ctx.index)
        sc = "score_nn" if nonorm else "score"
        return ctx.scored.filter(F.col("term") == key).select(
            "docid", (F.col(sc) * node.boost).alias("score")
        )
    if isinstance(node, ast.Phrase):
        keys = [term_key(ctx.index, node.field_name, t) for t in node.terms]
        metas = [ctx.term_meta.get(k) for k in keys]
        if not metas or any(m is None for m in metas):
            return ctx.empty()  # a missing term → phrase cannot occur
        tids = [m[0] for m in metas]
        # block-pruned per-segment kernel: positions are decoded only
        # for blocks that can hold a candidate from the rarest term
        # (bzzz_spark.query.phrase — the leapfrog discipline of ref
        # TermPayloadClojureScoreQuery.java:237-257, block-granular)
        pm = _phrase_matches(ctx.index, tids, node.slop, ctx.avgdl)
        # Lucene PhraseWeight: (Σ idf per term) × tfc(phrase_freq, dl)
        sum_idf = sum(idf_fn(ctx.n_docs, m[1]) for m in metas)
        nonorm = ctx.use_nonorm or node.field_name in extra_field_map(ctx.index)
        return pm.select(
            "docid",
            (F.lit(sum_idf * node.boost)
             * F.col("tfc_nn" if nonorm else "tfc")).alias("score"),
        )
    if isinstance(node, ast.MatchAll):
        return docs.select("docid", F.lit(float(node.boost)).alias("score"))
    if isinstance(node, ast.Range):
        c = F.col(node.field_name)
        cond = F.lit(True)
        if node.min is not None:
            cond = cond & (c >= node.min if node.min_inclusive else c > node.min)
        if node.max is not None:
            cond = cond & (c <= node.max if node.max_inclusive else c < node.max)
        return docs.filter(cond).select(
            "docid", F.lit(float(node.boost)).alias("score")
        )
    if isinstance(node, ast.Bool):
        musts = [_execute(q, ctx) for q in node.must]
        shoulds = [_execute(q, ctx) for q in node.should]
        msm = node.effective_msm()
        if musts:
            # conjunction via union + groupBy-having (one shuffle), not
            # n-way join chains: count(*) == n works because each child
            # emits unique docids
            base = (
                _tagged_union(musts)
                .groupBy("docid")
                .agg(F.sum("score").alias("m_score"), F.count(F.lit(1)).alias("m_cnt"))
                .filter(F.col("m_cnt") == len(musts))
                .select("docid", "m_score")
            )
            if shoulds:
                sh = (
                    _tagged_union(shoulds)
                    .groupBy("docid")
                    .agg(F.sum("score").alias("s_score"),
                         F.count(F.lit(1)).alias("s_cnt"))
                )
                base = (
                    base.join(sh, "docid", "left")
                    .filter(F.coalesce(F.col("s_cnt"), F.lit(0)) >= msm)
                    .select(
                        "docid",
                        (F.col("m_score") + F.coalesce(F.col("s_score"), F.lit(0.0))
                         ).alias("m_score"),
                    )
                )
            out = base.select(
                "docid", (F.col("m_score") * node.boost).alias("score")
            )
        elif shoulds:
            out = (
                _tagged_union(shoulds)
                .groupBy("docid")
                .agg(F.sum("score").alias("s_score"), F.count(F.lit(1)).alias("s_cnt"))
                .filter(F.col("s_cnt") >= max(msm, 1))
                .select("docid", (F.col("s_score") * node.boost).alias("score"))
            )
        else:
            # only must_not (or empty) matches nothing — Lucene semantics
            return ctx.empty()
        if node.must_not:
            nots = [_execute(q, ctx).select("docid") for q in node.must_not]
            excl = nots[0]
            for nt in nots[1:]:
                excl = excl.unionByName(nt)
            out = out.join(excl.distinct(), "docid", "left_anti")
        return out
    if isinstance(node, ast.Filtered):
        q = _execute(node.query, ctx)
        f = _execute(node.filter, ctx).select("docid")
        return q.join(f, "docid", "left_semi").select(
            "docid", (F.col("score") * node.boost).alias("score")
        )
    if isinstance(node, ast.ConstantScore):
        return _execute(node.query, ctx).select(
            "docid", F.lit(float(node.boost)).alias("score")
        )
    if isinstance(node, ast.DisMax):
        subs = [_execute(q, ctx) for q in node.queries]
        if not subs:
            return ctx.empty()
        return (
            _tagged_union(subs)
            .groupBy("docid")
            .agg(F.max("score").alias("mx"), F.sum("score").alias("sm"))
            .select(
                "docid",
                ((F.col("mx") + node.tie_breaker * (F.col("sm") - F.col("mx")))
                 * node.boost).alias("score"),
            )
        )
    if isinstance(node, (ast.Wildcard, ast.Fuzzy)):
        exp = ctx.expansions.get(_mt_key(node), [])
        if not exp:
            return ctx.empty()
        return (
            ctx.scored.filter(F.col("term").isin(exp))
            .select("docid")
            .distinct()
            .select("docid", F.lit(float(node.boost)).alias("score"))
        )
    if isinstance(node, ast.NoZeroScore):
        return _execute(node.query, ctx).filter(F.col("score") != 0.0)
    if isinstance(node, ast.NoNorm):
        prev = ctx.use_nonorm
        ctx.use_nonorm = True
        try:
            return _execute(node.query, ctx)
        finally:
            ctx.use_nonorm = prev
    if isinstance(node, ast.RandomScore):
        sub = _execute(node.query, ctx)
        # portable md5-based rand — identical in the Python oracle and in
        # DuckDB SQL (reference is non-reproducible by design:
        # src/bzzz/queries/random_score.clj:15-22; we pin a seed)
        r = F.conv(
            F.substring(
                F.md5(F.format_string(f"{node.seed}:%d", F.col("docid"))), 1, 8
            ),
            16, 10,
        ).cast("double") / float(1 << 32)
        return sub.select("docid", (F.lit(node.base) + r).alias("score"))
    if isinstance(node, ast.CustomScore):
        sub = _execute(node.query, ctx)
        joined = sub.withColumnRenamed("score", "_score").join(docs, "docid")
        expr_val = F.expr(node.expression)
        new_score = (
            expr_val if node.replace else F.col("_score") * expr_val
        ) * node.boost
        return joined.select("docid", new_score.alias("score"))
    raise ValueError(f"cannot execute {type(node).__name__}")


def execute(index: BzzzIndex, query: ast.Query | dict | str) -> DataFrame:
    """Full matched set with scores (no top-k cut)."""
    node = query if isinstance(query, ast.Query) else ast.parse_query(query)
    return _execute(node, _Ctx(index, node))


def search(
    index: BzzzIndex,
    query: ast.Query | dict | str,
    size: int = 20,
    page: int = 0,
    fields: list[str] | None = None,
    use_wand: bool = True,
) -> DataFrame:
    """Top-k search with the reference's paging semantics: PQ sized
    page*size+size, rows [page*size, (page+1)*size) returned
    (reference: index_search.clj:272-273,306; default size 20 per
    src/bzzz/const.clj:8).  Returns (docid, score [, fields...]) in
    (score desc, docid asc) order.

    Flat term/AND/OR shapes take the block-max pruned per-segment path
    (bzzz_spark.query.wand) by default; everything else lowers to the
    exhaustive DataFrame plan.  Both paths produce identical results
    (cross-checked in tests/test_wand.py)."""
    node = query if isinstance(query, ast.Query) else ast.parse_query(query)
    validate_fields(index, node)
    # score-preserving flattening (Lucene Query#rewrite analog): nested-
    # but-semantically-flat Bool trees become kernel-servable shapes
    from bzzz_spark.query.rewrite import normalize

    node = normalize(node)
    top = None
    if use_wand and index.wand_safe:
        from bzzz_spark.query.wand import wand_search

        top = wand_search(index, node, size=size, page=page)
    if top is None:
        matched = execute(index, node)
        k = page * size + size
        top = matched.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)
        if page > 0:
            w = Window.orderBy(F.col("score").desc(), F.col("docid").asc())
            top = (
                top.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") > page * size)
                .drop("__rn")
            )
    if fields:
        top = top.join(index.docs.select("docid", *fields), "docid", "left").orderBy(
            F.col("score").desc(), F.col("docid").asc()
        )
    return top


def total_hits(index: BzzzIndex, query) -> int:
    """Reference's totalHits (index_search.clj:287-288).

    A bare term's total is its document frequency, answered straight
    from the dictionary (memoized per snapshot — zero Spark jobs in
    serving mode), exactly as Lucene reads docFreq from the term
    dictionary; every other shape counts its matched set."""
    node = query if isinstance(query, ast.Query) else ast.parse_query(query)
    if isinstance(node, ast.Term):
        validate_fields(index, node)
        key = term_key(index, node.field_name, node.value)
        meta = index.lookup_terms([key])
        return int(meta[key][1]) if key in meta else 0
    return execute(index, node).count()


def _sort_specs(sort: list) -> list[tuple[str, str, "F.Column"]]:
    """Sort spec items → (name, order, Column).  Spec items:
    "field" | ("field", "asc"|"desc") | {"expression": sql, "order": ...}."""
    out = []
    for s in sort:
        order = "asc"
        if isinstance(s, tuple):
            name, order = s
            c = F.col("_score") if name == "_score" else (
                F.col("docid") if name == "_doc" else F.col(name)
            )
        elif isinstance(s, dict):
            name = s.get("name", s["expression"])
            c = F.expr(s["expression"])
            order = s.get("order", "asc")
        else:
            name = s
            c = F.col("_score") if name == "_score" else (
                F.col("docid") if name == "_doc" else F.col(name)
            )
        out.append((name, order, c))
    return out


def _sort_exprs(sort: list) -> list:
    """Sort spec → orderBy columns (reference T3/T4: typed field sorts,
    `_score`/`_doc` specials, reverse flag, expression sorts —
    src/bzzz/expr.clj:12-59, index_search.clj:96-103).  A trailing docid
    tie-break keeps every ordering total and deterministic (the north
    rule's rank stability)."""
    cols = [
        c.desc_nulls_last() if order == "desc" else c.asc_nulls_last()
        for _, order, c in _sort_specs(sort)
    ]
    cols.append(F.col("docid").asc())
    return cols


def sorted_search(
    index: BzzzIndex,
    query: ast.Query | dict | str,
    sort: list,
    size: int = 20,
    page: int = 0,
    fields: list[str] | None = None,
    with_sort_values: bool = False,
) -> DataFrame:
    """Top-k by arbitrary sort keys instead of score (reference T3/T4).
    The matched set is joined with stored doc columns so field and
    expression sorts can reference them; `_score` refers to the BM25
    score of the match.

    with_sort_values adds the reference's per-hit `_sort` metadata (T6,
    index_search.clj:246-250): array<struct<name, value, reverse>> with
    one entry per sort key (values stringified — the reference returns
    the typed sort values; a string is the portable common shape)."""
    matched = execute(index, query).withColumnRenamed("score", "_score")
    joined = matched.join(index.docs, "docid")
    exprs = _sort_exprs(sort)
    k = page * size + size
    top = joined.orderBy(*exprs).limit(k)
    if page > 0:
        w = Window.orderBy(*exprs)
        top = (
            top.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > page * size)
            .drop("__rn")
        )
    keep = ["docid", "_score"] + (fields or [])
    if with_sort_values:
        top = top.withColumn(
            "_sort",
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("name"),
                        c.cast("string").alias("value"),
                        F.lit(order == "desc").alias("reverse"),
                    )
                    for name, order, c in _sort_specs(sort)
                ]
            ),
        )
        keep = keep + ["_sort"]
    return top.select(*keep).withColumnRenamed("_score", "score")


def facet_counts(
    index: BzzzIndex, query, facet_field: str, size: int = 20
) -> DataFrame:
    """Facet counts over the matched set (reference F1: count docs per
    label within the matched set, top `size`, default 20 —
    index_search.clj:252-262,294-305).

    The reference's cross-shard facet merge is explicitly approximate
    (a label cut by one shard's limit undercounts —
    index_search.clj:186-204 'broken by design'); the Spark groupBy is
    global before the limit, so our counts are exact.  Deterministic
    tie-break: count desc, label asc."""
    matched = execute(index, query).select("docid")
    return (
        matched.join(index.docs.select("docid", facet_field), "docid")
        .groupBy(facet_field)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col(facet_field).asc())
        .limit(size)
    )


def facet_counts_multi(
    index: BzzzIndex,
    query,
    fields: list[str],
    size: int = 20,
    use_analyzer: bool = False,
) -> DataFrame:
    """Multi-dimension facet counts in ONE pass over the matched set →
    (dim, label, cnt), top `size` per dim.

    The reference declares N facet dims at index time and counts them
    all in one FacetsCollector pass (index_store.clj:80-93,
    index_search.clj:294-305); this is the Spark shape of that: the
    matched→docs join and the groupBy happen once, dims are melted into
    (dim, label) structs JVM-side before the single shuffle.

    use_analyzer reproduces the reference's `use-analyzer` token
    faceting (index_store.clj:86-93): labels are the analyzed TOKENS of
    the stored column, counted per occurrence (a token twice in one doc
    counts twice — Lucene taxonomy ordinals are added per occurrence).
    Array-typed columns facet per element (the reference's multi-valued
    facets)."""
    from pyspark.sql.types import ArrayType

    from bzzz_spark.analysis.tokenizer import standard_tokenize

    matched = execute(index, query).select("docid")
    docs = index.docs
    dtypes = {f.name: f.dataType for f in docs.schema.fields}

    def tag(base, dim_name):
        # NB: the lambda must take exactly ONE parameter — F.transform
        # treats a second parameter as the element-index argument
        return F.transform(
            base,
            lambda t: F.struct(F.lit(dim_name).alias("dim"), t.alias("label")),
        )

    arrs = []
    for f in fields:
        if use_analyzer:
            base = standard_tokenize(F.col(f).cast("string"))
        elif isinstance(dtypes.get(f), ArrayType):
            base = F.transform(F.col(f), lambda t: t.cast("string"))
        else:
            base = F.array(F.col(f).cast("string"))
        arrs.append(tag(base, f))
    pairs = (
        matched.join(docs.select("docid", *fields), "docid")
        .select(F.explode(F.flatten(F.array(*arrs))).alias("p"))
        .select("p.dim", "p.label")
        .filter(F.col("label").isNotNull())
    )
    counts = pairs.groupBy("dim", "label").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("dim").orderBy(
        F.col("cnt").desc(), F.col("label").asc()
    )
    return (
        counts.withColumn("__rank", F.row_number().over(w))
        .filter(F.col("__rank") <= size)
        .drop("__rank")
        .orderBy("dim", F.col("cnt").desc(), "label")
    )
