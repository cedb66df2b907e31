"""Block-max pruned top-k scoring — the fast path for flat queries.

The reference scores doc-at-a-time per segment leaf with a priority
queue (Lucene; the leapfrog pattern is visible in
reference src/java/bzzz/java/query/TermPayloadClojureScoreQuery.java:237-257).
The translation keeps the per-leaf structure: each docid-range
*segment* is scored independently, emitting a per-segment top-k; Spark's
TakeOrderedAndProject (or the serving tier's final sort) is the
cross-segment PQ merge.  Document lengths come from the blocks' INLINE
norms stream (dls), so the only shuffle in a query is the (tiny)
query-term block set grouping by segment — no norms table is ever
shipped.  θ cannot be shared across segments (they run in parallel on
Spark), so pruning is per-segment — still exact, just conservative.

Kernel layout: a KernelPlan's kernel takes the query's block frame (one
segment or many), converts it ONCE to a numpy block set
(bzzz_spark.query.blocks: one array per column, rows sorted by
(segment, term_id, first_docid), so every segment and every term in it
is a contiguous slice), runs each segment's slice through one function
per query shape (_any_topk, _term_topk, _and_topk, _mixed_and_topk,
_maxscore_topk) and returns the per-segment top-k concatenated as one
(docid, score) frame.  The shapes share one block decoder
(blocks.decode), one "blocks overlapping the candidates" helper
(blocks.overlapping, cached per term by _Lazy) and one stats recorder
(blocks.tally); pandas appears only at entry and exit.  A term's bound
on a block is its weight w = idf · boost times the block's max_tfc,
derived at query time from the block's stored (tf, dl) impacts
(blocks.impacts_max_tfc), so a live streaming index, whose N and avgdl
move with every micro-batch, prunes as safely as a built one.  Every
pruning bound is rounded up (_up), so no bound sits below a score it
bounds.

Pruning by query shape (all results EXACT — pruning never changes them;
tests cross-check against the exhaustive executor and the oracle):

- single term: a doc's whole score lives in one block, so blocks are
  processed in descending bound order (in chunks of 8
  doubling to 256, the conjunction's rule) and processing stops once
  the kth-best score exceeds the next block's max (classic block-max
  top-k).
- conjunction (AND): block-granular leapfrog — the rarest term's blocks
  are decoded first; every other term's blocks are skipped entirely
  unless their [first_docid, last_docid] range intersects a candidate,
  plus a block-max bound: a block is skipped when its max score + the
  other terms' remaining max < the current kth best of full matches.
- disjunction (OR/minimum-should-match): MaxScore (Turtle & Flood) at
  block granularity — terms processed in descending upper-bound order
  (UB_t = w_t · max block max_tfc) into per-candidate
  accumulators; once the unprocessed terms' combined UB falls below the
  kth-best score among msm-qualifying candidates, no NEW doc can reach
  the top-k, so the remaining (lower-impact, usually head) terms stop
  admitting candidates and their blocks are decoded only where the
  [first_docid, last_docid] range overlaps a surviving candidate.
  Candidates whose score + remaining UB can no longer reach θ are
  retired, shrinking later terms' block sets further.  For
  "rare OR the"-shaped queries the head term decodes only the slice
  overlapping the rare term's candidates — Lucene's MaxScore discipline
  (Lucene 8+ WANDScorer / MaxScoreBulkScorer).

- must_not of terms (Lucene ReqExclScorer): exclusion terms ride the
  same block scan; their blocks are decoded only where the block range
  intersects a surviving positive candidate, so "x AND NOT the"
  decodes just the slice of "the" overlapping x's matches.

- top-level wildcard / fuzzy (constant score, Lucene
  CONSTANT_SCORE_REWRITE): every match scores `boost`, so the top-k
  under the (score desc, docid asc) tie-break is simply the k SMALLEST
  matching docids.  Expansion blocks are processed in ascending
  first_docid order and decoding stops as soon as k docids lie below
  every remaining block's range — a "s*" expansion over thousands of
  terms decodes a handful of leading blocks per segment instead of the
  full posting lists.

Anything deeper (nesting, filters, boosts per clause) falls back to
the exhaustive DataFrame executor in bzzz_spark.query.executor — same
results, more I/O.
"""

from __future__ import annotations

from dataclasses import dataclass, field as _dc_field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bzzz_spark import BM25_K1
from bzzz_spark.build.indexer import BzzzIndex
from bzzz_spark.query import ast
from bzzz_spark.query.blocks import (
    Blocks,
    decode,
    impacts_max_tfc,
    overlapping,
    tally,
)
from bzzz_spark.query.phrase import phrase_arrays
from bzzz_spark.query.scoring import idf as idf_fn
from bzzz_spark.query.scoring import tf_component_np


@dataclass
class FlatShape:
    """A query shape the block-max kernels can serve directly.

    terms:   (value, field, boost, scored) — scored=False for
             filter-arm conjuncts (Filtered semantics: intersect,
             contribute 0).  Scored terms must target the text field
             (kernel scoring uses the text index's norms); UNSCORED
             membership (filter arms, must_not) may target any indexed
             field via its '<field>:<token>' dictionary key.
    phrases: (term_values, slop, boost, scored) — phrase pseudo-terms:
             and-mode conjuncts, or or/dismax-mode clauses (MaxScore
             with the loose-but-sound w_p*(k1+1) upper bound), all
             served by phrase_segment_kernel.
    ranges:  (Range, contrib) — contrib is the score the predicate adds
             per match (node.boost for Bool must-ranges, 0.0 for
             Filtered filter-ranges).
    multis:  (Wildcard|Fuzzy node, scored) — and-mode set conjuncts:
             the doc must contain ANY expansion term; contributes the
             node's constant boost (Lucene CONSTANT_SCORE_REWRITE for
             multi-term queries inside a conjunction), 0 on filter
             arms.
    opts:    (value, boost) — OPTIONAL terms on an and-shape (Bool with
             both must and should: Lucene ReqOptSumScorer).  They never
             admit candidates; matching ones add their BM25 score, and
             opt_msm of them must match for a doc to qualify
             (minimum_should_match over the should clauses).
    opt_phrases: (term_values, slop, boost) — OPTIONAL phrases in the
             same should list, evaluated by phrase_segment_kernel
             restricted to the conjunction's survivors.
    groups:  (members, msm, scored) — REQUIRED disjunction groups in
             the must list ("(a OR b) AND (c OR d)" — the synonym-
             expansion shape): members is the inner Bool's should list
             as (value, field, boost) Term entries (duplicates kept:
             each entry scores and counts toward msm separately, the
             executor's semantics), msm its effective minimum-should-
             match, scored False for filter arms.  A doc must match
             >= msm entries of EVERY group; matched entries add their
             BM25 score.  Note the rewrite pass hoists the FIRST such
             group into the parent's should list (opts/opt_msm), so on
             normalized trees groups carries only the second and later
             groups."""

    mode: str  # 'term' | 'and' | 'or' | 'dismax'
    terms: list = _dc_field(default_factory=list)
    phrases: list = _dc_field(default_factory=list)
    msm: int = 1
    neg: list = _dc_field(default_factory=list)
    ranges: list = _dc_field(default_factory=list)
    multis: list = _dc_field(default_factory=list)
    opts: list = _dc_field(default_factory=list)
    opt_msm: int = 0
    tie: float = 0.0  # dismax tie_breaker (node boost folded into terms)
    opt_phrases: list = _dc_field(default_factory=list)
    neg_multis: list = _dc_field(default_factory=list)  # Wildcard|Fuzzy
    opt_multis: list = _dc_field(default_factory=list)  # (node, boost)
    groups: list = _dc_field(default_factory=list)  # (members, msm, scored)


@dataclass(frozen=True)
class KernelPlan:
    """A planned block-max query: the per-segment scoring kernel plus
    the term_ids whose posting blocks it needs.  Everything else about
    the query (weights, bounds, exclusions, phrase specs) is already
    closed over inside `kernel`, so the plan is runtime-agnostic — the
    Spark path feeds it a term_id-pruned postings DataFrame, the
    in-process serving path (bzzz_spark.serve.local) feeds it pyarrow
    parquet reads of the same blocks.  empty=True marks queries proven
    empty at plan time (out-of-vocabulary must-terms, unsatisfiable
    minimum_should_match, zero-doc index)."""

    kernel: object | None
    tids: tuple = ()
    empty: bool = False


_EMPTY_PLAN = KernelPlan(None, (), empty=True)


def _run_plan(index: BzzzIndex, plan: KernelPlan) -> DataFrame:
    """Materialize a KernelPlan on the Spark runtime."""
    if plan.empty:
        spark = index.docs.sparkSession
        return spark.createDataFrame([], "docid long, score double")
    return run_plans(index, {"": plan}).select("docid", "score")


def run_plans(index: BzzzIndex, plans: dict) -> DataFrame:
    """Run non-empty KernelPlans ({query_id: plan}) in ONE read of the
    postings, filtered to the union of their term_ids → (query_id,
    docid, score), each query's per-segment top-k.  Every plan's kernel
    gets the rows of its own term_ids only."""
    tids = sorted({int(t) for p in plans.values() for t in p.tids})
    blocks = index.postings.filter(F.col("term_id").isin(tids))
    specs = [(qid, np.asarray(p.tids, dtype=np.int64), p.kernel)
             for qid, p in plans.items()]
    schema = "query_id string, docid long, score double"

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        tid = pdf["term_id"].to_numpy()
        return pd.concat(
            [kernel(pdf[np.isin(tid, mine)]).assign(query_id=qid)
             for qid, mine, kernel in specs],
            ignore_index=True,
        )

    if getattr(index, "segment_aligned", False):
        # serving layout: postings are already hash-partitioned by
        # segment (BzzzIndex.persist(layout="segment")), so the kernels
        # run as a NARROW mapInPandas — zero per-query shuffle, the
        # single biggest chunk of Spark's fixed query latency.  Each
        # kernel splits the partition's blocks by segment itself.
        def run_part(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts = [p for p in it if len(p)]
            if parts:
                yield run(pd.concat(parts, ignore_index=True))

        return blocks.mapInPandas(run_part, schema)
    # the ONLY shuffle: the queries' (small) block set, grouped by
    # segment
    return blocks.groupby("segment").applyInPandas(run, schema)


def _flat_conjuncts(nodes, scored: bool):
    """Term/Range/Phrase/Wildcard/Fuzzy/group-Bool nodes → FlatShape
    component lists, or None if any node is out of kernel scope.

    A boost-0 conjunct contributes exactly 0 score, so it is classified
    as UNSCORED membership regardless of `scored` — this is how the
    rewrite pass's Filtered → Bool(must=[q, f@boost=0]) lowering keeps
    field-scoped filter arms on the kernel (unscored membership needs
    no norms and may target any indexed field; a scored=True zero-boost
    term would trip wand_candidates' text-field-only check).

    A should-only Bool of Terms is a REQUIRED disjunction group
    ("(a OR b) AND (c OR d)"): members are kept as an entry LIST so
    duplicate members each score and count toward the group's msm, the
    executor's semantics.  Groups whose msm cannot be satisfied, and
    any other inner shape, fall back."""
    terms, phrases, ranges, multis, groups = [], [], [], [], []
    for q in nodes:
        s = scored and q.boost != 0.0
        if isinstance(q, ast.Term):
            if q.boost < 0:
                return None
            terms.append((q.value, q.field_name, q.boost, s))
        elif isinstance(q, ast.Range):
            if q.boost < 0:
                return None
            ranges.append((q, q.boost if s else 0.0))
        elif isinstance(q, ast.Phrase):
            if q.boost < 0:
                return None
            phrases.append((tuple(q.terms), q.slop, q.boost, s))
        elif isinstance(q, (ast.Wildcard, ast.Fuzzy)):
            if q.boost < 0:
                return None
            multis.append((q, s))
        elif (
            isinstance(q, ast.Bool)
            and q.boost in (0.0, 1.0)
            and q.should
            and not q.must
            and not q.must_not
            and all(isinstance(m, ast.Term) and m.boost >= 0
                    for m in q.should)
            and 1 <= q.effective_msm() <= len(q.should)
        ):
            gs = s and q.boost != 0.0
            groups.append((
                [(m.value, m.field_name, m.boost) for m in q.should],
                q.effective_msm(),
                gs,
            ))
        else:
            return None
    return terms, phrases, ranges, multis, groups


def classify(node: ast.Query) -> FlatShape | None:
    """FlatShape for kernel-servable shapes, else None (executor
    fallback).  Servable: Term; Bool over Terms/Ranges/Phrases in must
    + Terms in must_not + Terms in should (no mixing must and should);
    Filtered whose query is a servable term/and shape and whose filter
    is a Term/Range/Phrase or a Bool(must/must_not) of those (filter
    conjuncts intersect without scoring — Lucene FilteredQuery).
    Exclusions ride the kernel: Lucene's ReqExclScorer is the same
    per-leaf advance-and-skip.

    Negative boosts fall back: w · max_tfc bounds assume
    non-negative term weights (for w < 0 the block 'max' is a LOWER
    bound and θ-pruning would drop true top-k docs); Lucene itself
    rejects boost < 0 since 7.0 — the exhaustive plan serves them.
    Doc-value ranges apply at the first conjunct decode that sees dv
    streams: a term conjunct, a set conjunct (every member posting of
    a doc inlines the same value, so the row mask before the union is
    exact), or a group conjunct (mask per member decode, before the
    msm gate).  When the ONLY conjuncts are phrases, wand_candidates
    synthesizes the rarest required phrase leg as an unscored term
    conjunct to carry the streams."""
    if isinstance(node, ast.Term):
        if node.boost < 0:
            return None
        return FlatShape(
            "term", [(node.value, node.field_name, node.boost, True)]
        )
    if isinstance(node, ast.Bool) and node.boost == 1.0:
        # must_not arms never score, so any leaf whose MATCH SET the
        # kernel can resolve to a term-id union is servable: Terms and
        # Wildcard/Fuzzy patterns (exclusion = the expansion set — the
        # neg_tids union IS Lucene's rewritten BooleanQuery exclusion)
        neg, neg_multis = [], []
        for q in node.must_not:
            if isinstance(q, ast.Term) and q.boost >= 0:
                neg.append((q.value, q.field_name))
            elif isinstance(q, (ast.Wildcard, ast.Fuzzy)) and q.boost >= 0:
                neg_multis.append(q)
            else:
                return None
        if node.must:
            parts = _flat_conjuncts(node.must, scored=True)
            if parts is None:
                return None
            terms, phrases, ranges, multis, groups = parts
            if not (terms or phrases or multis or groups):
                return None  # pure-range conjunction: docs-table plan
            # must + should: Lucene ReqOptSumScorer — the conjunction
            # drives candidates, optional Terms/Phrases add score where
            # they match and opt_msm of them must match.  Duplicate
            # should clauses fall back (the executor counts each
            # occurrence toward msm; a keyed kernel cannot)
            opts: list = []
            opt_phr: list = []
            opt_mul: list = []
            if node.should:
                for q in node.should:
                    if isinstance(q, ast.Term) and q.boost >= 0:
                        opts.append((q.value, q.field_name, q.boost))
                    elif isinstance(q, ast.Phrase) and q.boost >= 0:
                        opt_phr.append((tuple(q.terms), q.slop, q.boost))
                    elif isinstance(q, (ast.Wildcard, ast.Fuzzy)) and (
                        q.boost >= 0
                    ):
                        # optional constant-score term set (Lucene
                        # CONSTANT_SCORE_REWRITE): matching ANY
                        # expansion adds the boost, counts 1 toward
                        # msm.  Duplicates are per-entry, so they are
                        # naturally correct (each adds separately)
                        opt_mul.append((q, q.boost))
                    else:
                        return None
                n_should = len(opts) + len(opt_phr) + len(opt_mul)
                if len({(v, f) for v, f, _b in opts}) != len(opts):
                    return None
                if len({(t, s) for t, s, _b in opt_phr}) != len(opt_phr):
                    return None
                if node.effective_msm() > n_should:
                    return None  # unsatisfiable — executor returns empty
            return FlatShape("and", terms, phrases, len(terms), neg,
                             ranges, multis, opts,
                             node.effective_msm()
                             if (opts or opt_phr or opt_mul)
                             else 0,
                             opt_phrases=opt_phr,
                             neg_multis=neg_multis,
                             opt_multis=opt_mul,
                             groups=groups)
        if node.should and not node.must:
            # pure disjunction over Terms, Phrases and/or Wildcard/Fuzzy
            # clauses: MaxScore with phrases as pseudo-terms (bounded by
            # w_p*(k1+1) — a phrase block carries no positional upper
            # bound, so the bound is loose but sound) and multi-term
            # clauses as constant-score term SETS (Lucene
            # CONSTANT_SCORE_REWRITE: contribution = boost if ANY
            # expansion term matches, bounded by boost).  Duplicate
            # term/phrase clauses fall back (the executor counts each
            # occurrence toward msm; multis are per-entry, so their
            # duplicates are naturally correct)
            sterms: list = []
            sphr: list = []
            smul: list = []
            for q in node.should:
                if isinstance(q, ast.Term) and q.boost >= 0:
                    sterms.append((q.value, q.field_name, q.boost, True))
                elif isinstance(q, ast.Phrase) and q.boost >= 0:
                    sphr.append((tuple(q.terms), q.slop, q.boost, True))
                elif isinstance(q, (ast.Wildcard, ast.Fuzzy)) and (
                    q.boost >= 0
                ):
                    smul.append((q, True))
                else:
                    return None
            if len({(t, s) for t, s, _b, _sc in sphr}) != len(sphr):
                return None
            return FlatShape(
                "or", sterms, sphr, node.effective_msm(), neg, [],
                multis=smul, neg_multis=neg_multis,
            )
        return None
    if isinstance(node, ast.DisMax):
        # dis-max over plain terms (Q11): score = max + tie*(sum - max)
        # = (1-tie)*max + tie*sum — the node boost folds into every
        # clause weight (the combiner is linear in a uniform scale).
        # The MaxScore discipline stays valid for tie in [0, 1]: both
        # the admission and retirement bounds maximize max- and
        # sum-parts independently.  Duplicate clause values fall back
        # (each occurrence contributes to the sum separately)
        if not node.queries or node.boost < 0:
            return None
        if not (0.0 <= node.tie_breaker <= 1.0):
            return None
        dterms: list = []
        dphr: list = []
        dmul: list = []
        for q in node.queries:
            if isinstance(q, ast.Term) and q.boost >= 0:
                dterms.append(
                    (q.value, q.field_name, q.boost * node.boost, True)
                )
            elif isinstance(q, ast.Phrase) and q.boost >= 0:
                dphr.append(
                    (tuple(q.terms), q.slop, q.boost * node.boost, True)
                )
            elif isinstance(q, (ast.Wildcard, ast.Fuzzy)) and q.boost >= 0:
                # constant-score set clause; the node boost folds into
                # the clause boost (the combiner is linear in a uniform
                # scale), via a copy — never mutate the caller's AST
                from dataclasses import replace as _dc_replace

                dmul.append(
                    (_dc_replace(q, boost=q.boost * node.boost), True)
                )
            else:
                return None
        vals = [(v, f) for v, f, _b, _s in dterms]
        if len(set(vals)) != len(vals):
            return None
        if len({(t, s) for t, s, _b, _sc in dphr}) != len(dphr):
            return None
        return FlatShape(
            "dismax",
            dterms,
            dphr,
            msm=1,
            tie=float(node.tie_breaker),
            multis=dmul,
        )
    if isinstance(node, ast.Filtered) and node.boost == 1.0:
        # NOTE: the search()/batch() paths never reach this branch —
        # rewrite.normalize() lowers every Filtered this branch accepts
        # to Bool(must=[q, f@boost=0]) first, and the Bool branch
        # classifies boost-0 conjuncts as unscored membership (the same
        # scored=False treatment applied here).  Kept for DIRECT
        # wand_search/wand_candidates callers, who get raw ASTs.
        base = classify(node.query)
        if base is None or base.mode in ("or", "dismax"):
            return None
        f = node.filter
        if isinstance(f, ast.Bool) and f.boost == 1.0 and not f.should:
            if not f.must:
                # a Bool with only must_not matches NOTHING (Lucene
                # semantics) — lowering it to a bare exclusion would
                # instead match everything-but; fall back
                return None
            if not all(isinstance(q, ast.Term) for q in f.must_not):
                return None
            fparts = _flat_conjuncts(f.must, scored=False)
            fneg = [(q.value, q.field_name) for q in f.must_not]
        elif isinstance(f, (ast.Term, ast.Range, ast.Phrase,
                            ast.Wildcard, ast.Fuzzy)):
            fparts = _flat_conjuncts([f], scored=False)
            fneg = []
        else:
            return None
        if fparts is None:
            return None
        fterms, fphrases, franges, fmultis, fgroups = fparts
        terms = base.terms + fterms
        phrases = base.phrases + fphrases
        ranges = base.ranges + franges
        multis = base.multis + fmultis
        groups = base.groups + fgroups
        if not (terms or phrases or multis or groups):
            return None
        return FlatShape(
            "and", terms, phrases,
            sum(1 for _, _, _, s in terms if s),
            base.neg + fneg, ranges, multis,
            base.opts, base.opt_msm,
            opt_phrases=base.opt_phrases,
            neg_multis=base.neg_multis,
            opt_multis=base.opt_multis,
            groups=groups,
        )
    return None


# A term's bound on one block, w * max_tfc, is the block's max score bit
# for bit, but sums of per-term bounds group their float operations
# differently from the kernel's own sums, so either side can land a few
# ulps above the other.  Every bound is rounded up by 2^-42 relative
# (about 1k ulps, far above the rounding of any sum of a few hundred
# clauses) plus one ulp; a bound then never sits below a score it
# bounds, and the strict `bound < θ` skips stay exact.
_SLACK = 1.0 + 2.0 ** -42


def _up(x):
    """A pruning bound rounded up (see _SLACK)."""
    return np.nextafter(np.multiply(x, _SLACK), np.inf)


@dataclass
class _Spec:
    """One planned query as the shape functions read it.

    qmeta: term_id -> (weight = idf*boost, boost).  Document lengths
    come from the blocks' inline dls stream (0 → avgdl, the
    norms-disabled sentinel) and a term's block bound is weight ×
    max_tfc at ``avgdl``, so the kernel needs no side input.

    neg_tids: must_not terms (Lucene ReqExclScorer): their blocks are
    decoded ONLY where their [first_docid, last_docid] range intersects
    a surviving candidate — "x AND NOT the" decodes just the blocks of
    "the" overlapping x's candidates.

    ranges (and-mode): (ast.Range, contrib) predicates over inlined
    doc-value columns, evaluated on the first conjunct decode that
    carries the dv streams; contrib is the score a match adds (the
    Range's boost under Bool(must), 0.0 for a filter arm).

    phrases: (leg_tids, slop, weight) pseudo-terms — and-mode
    conjuncts restricted to the surviving candidates, or or/dismax
    clauses bounded by weight*(k1+1) (a phrase block carries no
    positional bound; loose but sound).  weight = Σ idf(leg) × boost
    (Lucene PhraseWeight), 0.0 for filter arms.

    termsets: (member_tids, contrib) constant-score sets — an expanded
    Wildcard/Fuzzy: a doc matches when ANY member term holds it and
    scores contrib (Lucene CONSTANT_SCORE_REWRITE).

    opts / opt_phrases / opt_sets (and-mode): OPTIONAL should clauses
    (Lucene ReqOptSumScorer) — tid -> (weight, boost) terms, phrases and
    (member_tids, boost) sets.  They never admit candidates, decode only
    where they overlap the conjunction's survivors, add their score
    where they match, and opt_msm of them must match.  Their upper
    bounds widen θ's pruning bound.

    groups (and-mode): (entries, msm) REQUIRED disjunction groups
    ("(a OR b) AND (c OR d)"): entries are (tid, weight) — duplicates
    each score and count — and a doc must match >= msm of them."""

    qmeta: dict
    mode: str
    msm: int
    k: int
    avgdl: float
    neg_tids: list
    ranges: list
    stats: dict | None
    phrases: list
    termsets: list
    opts: dict
    opt_msm: int
    tie: float
    opt_phrases: list
    opt_sets: list
    groups: list

    def __post_init__(self):
        self.range_boost = float(sum(c for _r, c in self.ranges))
        self.dv_want = tuple(
            dict.fromkeys(r.field_name for r, _c in self.ranges)
        )


def _tfc(q: _Spec, tf: np.ndarray, dl: np.ndarray) -> np.ndarray:
    """BM25 tf component of decoded streams (dl 0 scores as avgdl)."""
    return tf_component_np(tf, dl, q.avgdl)


def _dv_mask(q: _Spec, dvv: dict) -> np.ndarray:
    """Row mask of the range predicates over decoded dv streams (one
    value per posting; a doc's value is the same in every term's
    stream, so masking rows masks docs)."""
    m = np.ones(next(iter(dvv.values())).size, dtype=bool)
    for rg, _c in q.ranges:
        v = dvv[rg.field_name]
        if rg.min is not None:
            m &= (v >= rg.min) if rg.min_inclusive else (v > rg.min)
        if rg.max is not None:
            m &= (v <= rg.max) if rg.max_inclusive else (v < rg.max)
    return m


def _topk(d: np.ndarray, s: np.ndarray, k: int) -> tuple:
    """The k best by (score desc, docid asc)."""
    if s.size > k:
        # only scores >= the kth largest can place (ties at the cut kept)
        m = s >= np.partition(s, s.size - k)[s.size - k]
        d, s = d[m], s[m]
    o = np.lexsort((d, -s))[:k]
    return d[o], s[o]


def _chunks(n: int, size: int = 8):
    """Slices over n ordered blocks: start small so θ can stop after a
    handful of high-bound blocks, then double toward 256 so a long
    unpruned scan amortizes the per-chunk overhead.  θ only grows, so a
    coarser later chunk never prunes less than its first block's bound
    allows — exactness is unchanged."""
    start = 0
    while start < n:
        yield slice(start, min(start + size, n))
        start += size
        size = min(256, size * 2)


class _Theta:
    """Running kth-best score of the docs emitted so far: the pruning
    threshold, -inf until k docs are in."""

    def __init__(self, k: int):
        self.k = k
        self.best = np.empty(0)
        self.value = -np.inf

    def push(self, s: np.ndarray) -> None:
        best = np.concatenate((self.best, s))
        if best.size > self.k:
            best = np.partition(best, best.size - self.k)[best.size - self.k:]
        self.best = best
        if best.size >= self.k:
            self.value = best.min()


class _Lazy:
    """Blocks (ascending first_docid) decoded only where they overlap a
    candidate, each block once; what is decoded accumulates in one
    docid-sorted store."""

    def __init__(self, q: _Spec, b: Blocks, rows: np.ndarray, key):
        self.q, self.b, self.rows, self.key = q, b, rows, key
        self.done = np.zeros(b.term_id.size, dtype=bool)
        self.d = np.empty(0, dtype=np.int64)
        self.tf = self.dl = self.d
        tally(q.stats, "total_blocks", key, rows.size)

    def over(self, cand: np.ndarray):
        """(docids, tf, dl) of every block decoded so far, docid-sorted —
        a superset of the postings in the blocks overlapping the sorted
        ``cand``, which this call decodes if not yet done — or None when
        no block overlaps ``cand``.  Several terms' docids may repeat."""
        need = overlapping(self.b, self.rows, cand)
        if need.size == 0:
            return None
        miss = need[~self.done[need]]
        if miss.size:
            self.done[miss] = True
            dec = decode(self.b, miss)
            d = np.concatenate((self.d, dec.d))
            o = np.argsort(d, kind="stable")  # merges sorted runs
            self.d = d[o]
            self.tf = np.concatenate((self.tf, dec.tf))[o]
            self.dl = np.concatenate((self.dl, dec.dl))[o]
            tally(self.q.stats, "decoded_blocks", self.key, miss.size)
        return self.d, self.tf, self.dl


class _Excluder:
    """must_not terms (Lucene ReqExclScorer) over one segment."""

    def __init__(self, q: _Spec, b: Blocks):
        self.lazy = (_Lazy(q, b, b.rows_of(q.neg_tids), "neg")
                     if q.neg_tids else None)

    def keep(self, d: np.ndarray) -> np.ndarray:
        """Mask over sorted docids: True where no must_not term matches."""
        got = self.lazy.over(d) if self.lazy and d.size else None
        if got is None:
            return np.ones(d.size, dtype=bool)
        nd = got[0]
        return nd[np.clip(np.searchsorted(nd, d), 0, nd.size - 1)] != d


class _Optionals:
    """The optional should clauses of a conjunction over one segment:
    what is present here, their summed upper bound and whether opt_msm
    can still be met."""

    def __init__(self, q: _Spec, b: Blocks):
        self.q, self.b = q, b
        self.sets, self.terms, self.phrases = [], [], []
        self.ub = 0.0
        for si, (mtids, boost) in enumerate(q.opt_sets):
            rows = b.rows_of(mtids)
            if rows.size:
                self.sets.append((_Lazy(q, b, rows, f"optset:{si}"), boost))
                self.ub += float(boost)
        for tid, (w, _boost) in q.opts.items():
            rows = b.rows(tid)
            if rows.size:
                self.terms.append((_Lazy(q, b, rows, f"opt:{tid}"), w))
                self.ub += w * float(b.max_tfc[rows].max())
        if q.opt_phrases:
            sizes = b.sizes()
            for legs, slop, w_p in q.opt_phrases:
                if all(int(t) in sizes for t in legs):
                    self.phrases.append((legs, slop, w_p))
                    self.ub += w_p * (BM25_K1 + 1.0)
        self.feasible = q.opt_msm <= (
            len(self.sets) + len(self.terms) + len(self.phrases)
        )

    def add(self, cand: np.ndarray, acc: np.ndarray) -> tuple:
        """Add matching optional clauses' scores to the sorted surviving
        candidates (``acc`` must be a fresh array: it is added to in
        place), then apply the minimum-should-match cut."""
        q = self.q
        if cand.size == 0 or not (self.sets or self.terms or self.phrases):
            return cand, acc
        ocnt = np.zeros(cand.size, dtype=np.int32)
        for lazy, boost in self.sets:
            got = lazy.over(cand)
            if got is not None:
                u = got[0]
                hit = u[np.clip(np.searchsorted(u, cand), 0, u.size - 1)] == cand
                acc[hit] += boost
                ocnt[hit] += 1
        for lazy, w in self.terms:
            got = lazy.over(cand)
            if got is not None:
                d, tf, dl = got
                pos = np.clip(np.searchsorted(d, cand), 0, d.size - 1)
                hit = d[pos] == cand
                acc[hit] += w * _tfc(q, tf[pos[hit]], dl[pos[hit]])
                ocnt[hit] += 1
        for legs, slop, w_p in self.phrases:
            got = phrase_arrays(self.b, list(legs), slop, q.stats, cand)
            if got is not None:
                d, ptf, pdl = got
                idx = np.searchsorted(cand, d)  # d ⊆ cand, both ascending
                acc[idx] += w_p * _tfc(q, ptf, pdl)
                ocnt[idx] += 1
        if q.opt_msm > 0:
            m = ocnt >= q.opt_msm
            return cand[m], acc[m]
        return cand, acc


def _any_topk(q: _Spec, b: Blocks):
    """Constant-score match-any: the k smallest matching docids.  Blocks
    ascend by first_docid; once the kth-smallest docid found so far
    precedes the next block's range, no later block can contribute."""
    rows = b.rows_of(q.qmeta)
    if rows.size == 0:
        return None
    tally(q.stats, "total_blocks", None, rows.size)
    got = np.empty(0, dtype=np.int64)
    for sl in _chunks(rows.size, min(q.k, 8)):
        if got.size >= q.k and got[q.k - 1] < b.first[rows[sl.start]]:
            break
        d = decode(b, rows[sl], dl=False).d
        got = np.unique(np.concatenate((got, d)))[:q.k]
        tally(q.stats, "decoded_blocks", None, sl.stop - sl.start)
    boost = next(iter(q.qmeta.values()))[1]
    return got, np.full(got.size, float(boost))


def _term_topk(q: _Spec, b: Blocks):
    """Single-term block-max top-k: blocks in descending max-score
    order, stopping once the kth best so far beats the next block's
    bound.  Exact: a doc's whole score lives in exactly one block.
    Strictly below θ: a block whose bound EQUALS θ can still hold a
    score-tied doc with a smaller docid (e.g. boost=0 makes every score
    0), which wins the (score desc, docid asc) tie-break."""
    tid, (w, _boost) = next(iter(q.qmeta.items()))
    rows = b.rows(tid)
    if rows.size == 0:
        return None
    tally(q.stats, "total_blocks", tid, rows.size)
    rows = rows[np.argsort(-b.max_tfc[rows], kind="stable")]
    bounds = _up(w * b.max_tfc[rows])
    theta = _Theta(q.k)
    out_d, out_s = [], []
    for sl in _chunks(rows.size):
        if bounds[sl.start] < theta.value:
            break
        dec = decode(b, rows[sl])
        tally(q.stats, "decoded_blocks", tid, sl.stop - sl.start)
        out_d.append(dec.d)
        out_s.append(w * _tfc(q, dec.tf, dec.dl))
        theta.push(out_s[-1])
    return _topk(np.concatenate(out_d), np.concatenate(out_s), q.k)


def _and_topk(q: _Spec, b: Blocks):
    """Block-max conjunction (Lucene BlockMaxConjunctionScorer,
    block-at-a-time).  The rarest term's blocks are processed in
    descending block-max chunks; once θ exceeds a chunk's bound plus
    the other terms' (and optional clauses') upper bounds, the remaining
    rare blocks cannot host a top-k doc and are never decoded.  Within a
    chunk the other terms decode only blocks overlapping the chunk's
    surviving candidates, each block once.  Scores sum in qmeta order
    whatever the per-segment term order, so equal docs tie exactly."""
    trows = {tid: b.rows(tid) for tid in q.qmeta}
    if any(r.size == 0 for r in trows.values()):
        return None  # a must-term has no postings in this segment
    opt = _Optionals(q, b)
    if not opt.feasible:
        return None
    excl = _Excluder(q, b)
    rare, *others = sorted(q.qmeta, key=lambda t: int(b.count[trows[t]].sum()))
    lazy = {t: _Lazy(q, b, trows[t], t) for t in others}
    ub_rest = sum(q.qmeta[t][0] * float(b.max_tfc[trows[t]].max())
                  for t in others)
    w_r = q.qmeta[rare][0]
    rrows = trows[rare][np.argsort(-b.max_tfc[trows[rare]], kind="stable")]
    tally(q.stats, "total_blocks", rare, rrows.size)
    bounds = _up(w_r * b.max_tfc[rrows] + (ub_rest + q.range_boost + opt.ub))
    theta = _Theta(q.k)
    out_d, out_s = [], []
    for sl in _chunks(rrows.size):
        if bounds[sl.start] < theta.value:
            break  # strictly below θ: a bound-tied doc could still win
        dec = decode(b, rrows[sl], dv=q.dv_want)
        tally(q.stats, "decoded_blocks", rare, sl.stop - sl.start)
        o = np.argsort(dec.d, kind="stable")
        if q.ranges:
            o = o[_dv_mask(q, {c: v[o] for c, v in dec.dv.items()})]
        d = dec.d[o]
        parts = {rare: w_r * _tfc(q, dec.tf[o], dec.dl[o])}
        for t in others:
            got = lazy[t].over(d) if d.size else None
            if got is None:
                d = d[:0]
                break
            gd, gtf, gdl = got
            pos = np.clip(np.searchsorted(gd, d), 0, gd.size - 1)
            hit = gd[pos] == d
            d, pos = d[hit], pos[hit]
            parts = {u: v[hit] for u, v in parts.items()}
            parts[t] = q.qmeta[t][0] * _tfc(q, gtf[pos], gdl[pos])
        if d.size == 0:
            continue
        acc = sum(parts[t] for t in q.qmeta) + q.range_boost
        km = excl.keep(d)
        d, acc = opt.add(d[km], acc[km])
        if d.size:
            out_d.append(d)
            out_s.append(acc)
            theta.push(acc)
    if not out_d:
        return None
    return _topk(np.concatenate(out_d), np.concatenate(out_s), q.k)


def _conjunct(q: _Spec, b: Blocks, kind: str, key, cand,
              dv_want: tuple):
    """One term ("t"), set ("s") or group ("g") conjunct of a mixed
    conjunction: its matching docs (sorted, unique) and their score,
    decoding only blocks that overlap the sorted ``cand`` when given.
    The dv range mask applies at this decode when ``dv_want`` is set —
    a doc's dv value is the same in every member posting, so masking
    rows before a union or the msm count removes exactly the
    out-of-range docs."""
    if kind == "t":
        rows, skey = b.rows(key), key
    elif kind == "s":
        rows, skey = b.rows_of(q.termsets[key][0]), f"set:{key}"
    else:
        entries, gmsm = q.groups[key]
        rows, skey = b.rows_of({t for t, _w in entries}), f"grp:{key}"
    tally(q.stats, "total_blocks", skey, rows.size)
    if cand is not None:
        rows = overlapping(b, rows, cand)
        if rows.size == 0:
            return None
    tally(q.stats, "decoded_blocks", skey, rows.size)
    dec = decode(b, rows, dl=kind != "s", dv=dv_want)
    keep = _dv_mask(q, dec.dv) if dv_want else slice(None)
    d = dec.d[keep]
    if kind == "t":
        return d, q.qmeta[key][0] * _tfc(q, dec.tf[keep], dec.dl[keep])
    u = np.unique(d)  # several terms: one row per docid
    if kind == "s":
        return u, np.full(u.size, float(q.termsets[key][1]))
    # group: per-entry score and count (duplicate entries each count)
    owner = np.repeat(b.term_id[rows], b.count[rows])[keep]
    tf, dl = dec.tf[keep], dec.dl[keep]
    gscore = np.zeros(u.size)
    gcnt = np.zeros(u.size, dtype=np.int32)
    for tid, w in entries:
        m = owner == tid
        idx = np.searchsorted(u, d[m])
        gcnt[idx] += 1
        if w != 0.0:
            gscore[idx] += w * _tfc(q, tf[m], dl[m])
    gm = gcnt >= gmsm
    return u[gm], gscore[gm]


def _mixed_and_topk(q: _Spec, b: Blocks):
    """Conjunction with phrase, set or group conjuncts: conjuncts are
    intersected in ascending estimated-size order (a phrase's estimate
    is its rarest leg; a set's or group's the member sum).  No θ-pruning
    here (a phrase block carries no positional bound), but every
    conjunct after the first decodes only blocks overlapping the
    surviving candidates — the leapfrog of ref
    TermPayloadClojureScoreQuery.java:237-257, applied uniformly.  The
    dv range mask rides the first term, set or group decode
    (plan_candidates adds an unscored phrase-leg term when only phrases
    conjoin)."""
    sizes = b.sizes()
    if not all(int(t) in sizes for t in q.qmeta) or not all(
        int(t) in sizes for legs, _s, _w in q.phrases for t in legs
    ):
        return None  # a conjunct term has no postings here
    if not all(any(int(t) in sizes for t in tids) for tids, _c in q.termsets):
        return None  # a set conjunct with no member here
    if any(sum(int(t) in sizes for t, _w in entries) < gmsm
           for entries, gmsm in q.groups):
        return None  # a group that cannot reach its msm here
    opt = _Optionals(q, b)
    if not opt.feasible:
        return None
    conj = ([("t", tid) for tid in q.qmeta]
            + [("p", i) for i in range(len(q.phrases))]
            + [("s", i) for i in range(len(q.termsets))]
            + [("g", i) for i in range(len(q.groups))])

    def estimate(c):
        kind, key = c
        if kind == "t":
            return sizes[key]
        if kind == "p":
            return min(sizes[int(t)] for t in q.phrases[key][0])
        tids = (q.termsets[key][0] if kind == "s"
                else [t for t, _w in q.groups[key][0]])
        return sum(sizes.get(int(t), 0) for t in tids)

    cand, parts, dv_want = None, {}, q.dv_want
    for c in sorted(conj, key=estimate):
        if c[0] == "p":
            legs, slop, w_p = q.phrases[c[1]]
            got = phrase_arrays(b, list(legs), slop, q.stats, cand)
            if got is None:
                return None
            d, ptf, pdl = got
            if cand is not None:
                idx = np.searchsorted(cand, d)  # d ⊆ cand, both ascending
                parts = {u: v[idx] for u, v in parts.items()}
            cand, parts[c] = d, w_p * _tfc(q, ptf, pdl)
            continue
        got = _conjunct(q, b, c[0], c[1], cand, dv_want)
        dv_want = ()
        if got is None or got[0].size == 0:
            return None
        d, s = got
        if cand is not None:
            pos = np.clip(np.searchsorted(d, cand), 0, d.size - 1)
            hit = d[pos] == cand
            if not hit.any():
                return None
            cand, s = cand[hit], s[pos[hit]]
            parts = {u: v[hit] for u, v in parts.items()}
        else:
            cand = d
        parts[c] = s
    acc = sum(parts[c] for c in conj)
    km = _Excluder(q, b).keep(cand)
    d, acc = opt.add(cand[km], acc[km] + q.range_boost)
    if d.size == 0:
        return None
    return _topk(d, acc, q.k)


def _clause(q: _Spec, b: Blocks, kind: str, key, rows, cand):
    """One MaxScore clause's matches (sorted docids) and contributions,
    restricted to the sorted ``cand`` once admission has closed."""
    if kind == "p":
        legs, slop, w_p = key
        got = phrase_arrays(b, list(legs), slop, q.stats, cand)
        if got is None:
            return None
        return got[0], w_p * _tfc(q, got[1], got[2])
    skey = key if kind == "t" else f"set:{key[0]}"
    if cand is not None:
        rows = overlapping(b, rows, cand)
        if rows.size == 0:
            return None
    tally(q.stats, "decoded_blocks", skey, rows.size)
    dec = decode(b, rows, dl=kind == "t")
    d = dec.d if kind == "t" else np.unique(dec.d)
    if cand is None:
        keep = slice(None)
    else:
        keep = cand[np.clip(np.searchsorted(cand, d), 0, cand.size - 1)] == d
    if kind == "t":
        return d[keep], q.qmeta[key][0] * _tfc(q, dec.tf[keep], dec.dl[keep])
    d = d[keep]
    return d, np.full(d.size, float(key[1]))


def _maxscore_topk(q: _Spec, b: Blocks):
    """Disjunction / dis-max: MaxScore (Turtle & Flood) over dense
    per-segment accumulators.  Clauses run in descending upper-bound
    order; once the bound on a doc first seen at clause i falls below θ
    (the kth best score among candidates already satisfying msm and the
    exclusions), later clauses stop admitting NEW docs and decode only
    blocks overlapping surviving candidates — "rare OR the" decodes just
    the slice of "the" overlapping rare's candidates.  Candidates whose
    score plus the remaining bounds cannot reach θ retire.  Exact: θ
    only underestimates the final kth best (scores grow monotonically;
    msm and exclusion are decided before a candidate counts toward θ).

    dis-max (Lucene DisjunctionMaxQuery) scores (1-tie)*max + tie*sum
    with a parallel max accumulator.  Monotone in both parts for tie in
    [0, 1], so the bounds maximize them independently: a new doc at
    clause i is bounded by (1-tie)*UB_i + tie*suffix_i, a candidate by
    (1-tie)*max(mx, UB_next) + tie*(acc + suffix_next).  Phrase clauses
    are bounded by w_p*(k1+1) and set clauses by their constant.  Final
    scores are re-summed in clause order, so equal docs tie exactly
    whatever each segment's bound order."""
    dismax, tie = q.mode == "dismax", q.tie
    sizes = b.sizes() if q.phrases else {}
    clauses = []  # (kind, key, ub, rows)
    for tid, (w, _boost) in q.qmeta.items():
        rows = b.rows(tid)
        if rows.size:
            tally(q.stats, "total_blocks", tid, rows.size)
            clauses.append(("t", tid, w * float(b.max_tfc[rows].max()), rows))
    for legs, slop, w_p in q.phrases:
        if all(int(t) in sizes for t in legs):  # else a leg cannot match
            clauses.append(("p", (legs, slop, w_p), w_p * (BM25_K1 + 1.0),
                            b.rows_of(legs)))
    for si, (tids, contrib) in enumerate(q.termsets):
        rows = b.rows_of(tids)
        if rows.size:
            tally(q.stats, "total_blocks", f"set:{si}", rows.size)
            clauses.append(("s", (si, contrib), contrib, rows))
    if not clauses:
        return None
    order = sorted(range(len(clauses)), key=lambda i: -clauses[i][2])
    ubs = np.array([clauses[i][2] for i in order])
    suffix = np.cumsum(ubs[::-1])[::-1]
    admit = _up((1.0 - tie) * ubs + tie * suffix if dismax else suffix)
    ub_next, suffix_next = np.append(ubs[1:], 0.0), np.append(suffix[1:], 0.0)
    # per-candidate state, docid-sorted: score sum, max (dis-max),
    # matched-clause count, excluded, retired
    docs = np.empty(0, dtype=np.int64)
    acc, mxa = np.empty(0), np.empty(0)
    cnt = np.empty(0, dtype=np.int32)
    excl, dead = np.empty(0, dtype=bool), np.empty(0, dtype=bool)
    excluder = _Excluder(q, b)
    msm = max(q.msm, 1)
    theta = -np.inf
    parts = {}  # clause index -> (docids, contributions)

    def combined(s_acc, sel):
        if dismax:
            return (1.0 - tie) * mxa[sel] + tie * s_acc[sel]
        return s_acc[sel]

    closed = False
    for i, ci in enumerate(order):
        kind, key, _ub, rows = clauses[ci]
        closed = closed or admit[i] < theta  # no NEW doc can reach top-k
        cand = None
        if closed:
            cand = docs[~excl & ~dead]
            if cand.size == 0:
                break
        got = _clause(q, b, kind, key, rows, cand)
        if got is None:
            continue
        d, c = got
        if not closed:
            u = np.union1d(docs, d)
            if u.size > docs.size:  # admit new docs
                at = np.searchsorted(u, docs)
                grown = []
                for arr in (acc, mxa, cnt, excl, dead):
                    g = np.zeros(u.size, dtype=arr.dtype)
                    g[at] = arr
                    grown.append(g)
                acc, mxa, cnt, excl, dead = grown
                docs = u
        pos = np.searchsorted(docs, d)
        if not closed and excluder.lazy is not None:
            new = pos[cnt[pos] == 0]
            excl[new[~excluder.keep(docs[new])]] = True
        acc[pos] += c
        if dismax:
            mxa[pos] = np.maximum(mxa[pos], c)
        cnt[pos] += 1
        parts[ci] = (d, c)
        qual = combined(acc, (cnt >= msm) & ~excl & ~dead)
        if qual.size >= q.k:
            theta = max(theta, np.partition(qual, qual.size - q.k)[qual.size - q.k])
        if theta > -np.inf and i + 1 < len(order):
            if dismax:
                pot = ((1.0 - tie) * np.maximum(mxa, ub_next[i])
                       + tie * (acc + suffix_next[i]))
            else:
                pot = acc + suffix_next[i]
            dead |= _up(pot) < theta
    ok = np.flatnonzero((cnt >= msm) & ~excl & ~dead)
    if ok.size == 0:
        return None
    total = np.zeros(docs.size)
    for ci in sorted(parts):
        d, c = parts[ci]
        total[np.searchsorted(docs, d)] += c
    return _topk(docs[ok], combined(total, ok), q.k)


def _make_kernel(qmeta: dict, mode: str, msm: int, k: int, avgdl: float,
                 neg_tids: list[int] | None = None,
                 ranges: list | None = None, stats: dict | None = None,
                 phrases: list | None = None,
                 termsets: list | None = None,
                 opts: dict | None = None, opt_msm: int = 0,
                 tie: float = 0.0,
                 opt_phrases: list | None = None,
                 opt_sets: list | None = None,
                 groups: list | None = None):
    """The block-max kernel of one planned query: blocks_pdf → one
    (docid, score) frame holding each segment's top-k, concatenated.
    The block frame becomes an array block set once (query.blocks);
    each segment's slice then runs the function for the query's shape.
    The arguments are documented on _Spec; ``stats`` accumulates
    {"total_blocks": {key: n}, "decoded_blocks": {key: n}} (scalars
    for mode "any") across segments."""
    q = _Spec(qmeta, mode, msm, k, avgdl, list(neg_tids or []),
              list(ranges or []), stats, list(phrases or []),
              list(termsets or []), dict(opts or {}), opt_msm, tie,
              list(opt_phrases or []), list(opt_sets or []),
              list(groups or []))
    if mode == "any":
        shape = _any_topk
    elif mode == "term":
        shape = _term_topk
    elif mode == "and":
        mixed = q.phrases or q.termsets or q.groups
        shape = _mixed_and_topk if mixed else _and_topk
    else:
        shape = _maxscore_topk

    def kernel(blocks: pd.DataFrame) -> pd.DataFrame:
        got = []
        if len(blocks):
            if "max_tfc" not in blocks.columns:  # a Spark batch
                blocks = blocks.assign(max_tfc=impacts_max_tfc(
                    blocks["impacts"].to_numpy(), avgdl))
            got = [shape(q, seg) for seg in Blocks.from_frame(blocks).segments()]
            got = [g for g in got if g is not None]
        d = np.concatenate([g[0] for g in got] or [np.empty(0)])
        s = np.concatenate([g[1] for g in got] or [np.empty(0)])
        # fresh arrays: copy=False skips pandas' consolidation copy
        return pd.DataFrame({"docid": d.astype(np.int64, copy=False),
                             "score": s.astype(np.float64, copy=False)},
                            copy=False)

    return kernel


def _expand_scoped_many(index: BzzzIndex, nodes: list) -> list[list[str]]:
    """Wildcard/Fuzzy patterns → their exact dictionary expansions in
    ONE dictionary job (executor.expand_multiterm owns the semantics:
    per-pattern exact match, max_expansion capped by (df desc, term
    asc), field-scoped key spaces), memoized per index on the pattern's
    full option key."""
    from bzzz_spark.query.executor import (
        _mt_key,
        _pattern_prefix,
        expand_multiterm,
    )

    cache = getattr(index, "_expansion_cache", None)
    if cache is None:
        cache = {}  # index without the memo field: per-call cache
    fresh = [p for p in nodes if _mt_key(p) not in cache]
    if fresh:
        prefixes = [_pattern_prefix(index, n) for n in fresh]
        if hasattr(index, "expand_candidates"):
            # in-process serving index (serve.local.LocalIndex): the
            # dictionary is driver-resident, no Spark job to batch —
            # same exact-match + max_expansion semantics by contract
            exps = index.expand_candidates(fresh, prefixes)
        else:
            exps = expand_multiterm(index.dictionary, fresh, prefixes)
        for p, exp in zip(fresh, exps):
            cache[_mt_key(p)] = exp
    return [cache[_mt_key(p)] for p in nodes]


def _expand_scoped(index: BzzzIndex, node) -> list[str]:
    """One Wildcard/Fuzzy pattern → its exact dictionary expansion."""
    return _expand_scoped_many(index, [node])[0]


def _any_plan(
    index: BzzzIndex, keys: list[str], boost: float, k: int
) -> KernelPlan:
    """Constant-score 'any' kernel over explicit dictionary keys: every
    matching doc scores `boost`, so per segment the top-k is the k
    smallest matching docids and decoding stops once k docids precede
    every remaining block's range.  Needs no norms (constant score)."""
    if not keys:
        return _EMPTY_PLAN
    meta = index.lookup_terms(keys)
    tids = sorted(int(tid) for tid, _df in meta.values())
    if not tids:
        return _EMPTY_PLAN
    qmeta = {tid: (0.0, float(boost)) for tid in tids}
    kernel = _make_kernel(qmeta, "any", 1, k, 1.0)
    return KernelPlan(kernel, tuple(tids))


def _multiterm_plan(
    index: BzzzIndex, node: ast.Query, k: int
) -> KernelPlan:
    """Top-level Wildcard/Fuzzy: Lucene CONSTANT_SCORE_REWRITE — the
    dictionary expansion feeds the constant-score 'any' kernel."""
    return _any_plan(index, _expand_scoped(index, node), node.boost, k)


def _constant_plan(
    index: BzzzIndex, node: "ast.ConstantScore", k: int
) -> KernelPlan | None:
    """Top-level ConstantScore over a Term or a should-only Bool of
    Terms (effective msm <= 1): every match scores node.boost, so — as
    with Lucene's CONSTANT_SCORE_REWRITE for multi-term queries — the
    top-k is the k smallest matching docids and the 'any' kernel stops
    decoding once k docids precede every remaining block.  A
    filter-context head term ("give me ANY k docs containing X")
    decodes O(k) docids instead of the term's full postings.  Needs no
    norms (constant score), so any indexed field serves.  Other inner
    shapes return None → exhaustive executor."""
    inner = node.query
    if isinstance(inner, ast.Term):
        members = [(inner.value, inner.field_name)]
    elif (
        isinstance(inner, ast.Bool)
        and inner.should
        and not inner.must
        and not inner.must_not
        and inner.effective_msm() <= 1
        and all(isinstance(q, ast.Term) for q in inner.should)
    ):
        members = [(q.value, q.field_name) for q in inner.should]
    else:
        return None
    from bzzz_spark.query.executor import term_key

    keys = sorted({term_key(index, f, v) for v, f in members})
    return _any_plan(index, keys, node.boost, k)


def wand_candidates(
    index: BzzzIndex, node: ast.Query, k: int
) -> DataFrame | None:
    """Per-segment top-k (docid, score) for flat shapes, else None."""
    plan = plan_candidates(index, node, k)
    if plan is None:
        return None
    return _run_plan(index, plan)


def plan_candidates(
    index, node: ast.Query, k: int
) -> "KernelPlan | None":
    """Driver-side planning for the block-max kernel path: dictionary
    lookups + kernel construction, NO postings work.  Returns None for
    shapes the kernels can't serve (→ exhaustive executor), an
    empty-marked plan for provably-empty queries, else the kernel and
    the term_ids whose blocks it needs.  Shared by both runtimes:
    the Spark one (wand_candidates, batch.search_many) runs plans
    through run_plans, one term_id-pruned postings read as narrow
    tasks; the in-process serving
    path (bzzz_spark.serve.local) fetches the same blocks via pyarrow
    parquet reads and calls the kernel directly — zero Spark jobs, the
    deployment shape of the reference's long-lived in-process Lucene
    searcher (src/bzzz/index_directory.clj:129-132)."""
    # direct callers (wand_search / wand_candidates without going
    # through executor.search) must hit the same unknown-field error as
    # the executor path — otherwise a Wildcard on an unindexed field
    # would silently answer from the default text field
    from bzzz_spark.query.executor import validate_fields

    validate_fields(index, node)
    if isinstance(node, ast.Bool) and not node.must and not node.should:
        # only must_not clauses (or none) match nothing: Lucene's
        # prohibited-only BooleanQuery, the executor's empty answer
        return _EMPTY_PLAN
    if isinstance(node, ast.Phrase) and node.boost >= 0:
        # a bare phrase is the one kernel-family shape classify() only
        # accepts inside a conjunction; Bool(must=[phrase]) is
        # score-identical (the must-sum of one clause)
        node = ast.Bool(must=[node])
    if isinstance(node, (ast.Wildcard, ast.Fuzzy)):
        return _multiterm_plan(index, node, k)
    if isinstance(node, ast.ConstantScore):
        got = _constant_plan(index, node, k)
        if got is not None:
            return got
    shape = classify(node)
    if shape is None:
        return None
    # extra-field terms are keyed '<field>:<token>' in the dictionary
    # and score without norms — route them through the exhaustive
    # executor (which owns the key mapping) rather than mis-looking
    # them up here by bare value
    # SCORED terms and phrases must target the text field: the kernel
    # scores from the text index's norms stream.  UNSCORED membership
    # (filter arms, must_not, the filter side of Filtered) may target
    # any indexed field — its '<field>:<token>' dictionary key resolves
    # to ordinary postings, and intersection needs no norms.  Unknown
    # fields already raised in validate_fields.
    aliases = {"text", index.config.text_col}
    if any(
        isinstance(n, ast.Phrase) and n.field_name not in aliases
        for n in ast.iter_nodes(node)
    ):
        return None
    if any(f not in aliases for _v, f, _b, s in shape.terms if s):
        return None
    if any(f not in aliases for _v, f, _b in shape.opts):
        return None
    if any(
        f not in aliases
        for members, _m, gscored in shape.groups if gscored
        for _v, f, _b in members
    ):
        return None
    if shape.ranges:
        # range predicates ride the kernel only when the index inlines
        # the fields as doc-values; otherwise the executor's docs-table
        # plan answers them
        dvc = set(getattr(index.config, "docvalue_cols", ()) or ())
        if not all(r.field_name in dvc for r, _c in shape.ranges):
            return None
        if any(
            f"dv_{r.field_name}" not in index.postings.columns
            for r, _c in shape.ranges
        ):
            return None
    if (shape.phrases or shape.opt_phrases) and (
        "positions" not in index.postings.columns
    ):
        # the executor path raises the loud store_positions error
        return None
    from bzzz_spark.query.executor import term_key

    vals = [term_key(index, f, v) for v, f, _b, _s in shape.terms]
    if len(set(vals)) != len(vals):
        return None  # repeated terms would collapse in qmeta — fall back
    neg_vals = [term_key(index, f, v) for v, f in shape.neg]
    pvals = [t for tids, _s, _b, _sc in shape.phrases for t in tids]
    okeys = [term_key(index, f, v) for v, f, _b in shape.opts]
    gkeys = [
        [term_key(index, f, v) for v, f, _b in members]
        for members, _m, _gs in shape.groups
    ]
    ovals = okeys + [
        t for tids, _s, _b in shape.opt_phrases for t in tids
    ] + [k for keys in gkeys for k in keys]
    n_docs, avgdl = index.scalar_stats()
    if n_docs == 0 or avgdl == 0:
        return _EMPTY_PLAN
    meta = index.lookup_terms(vals + neg_vals + pvals + ovals)
    if shape.mode == "and" and (
        any(v not in meta for v in vals) or any(t not in meta for t in pvals)
    ):
        # a required conjunct term (or phrase leg) is out of vocabulary
        return _EMPTY_PLAN
    qmeta = {}
    for (v, f, boost, scored), key in zip(shape.terms, vals):
        if key in meta:
            tid, df = meta[key]
            # filter-arm conjuncts intersect but contribute no score
            # (and no upper bound): weight and boost pinned to 0
            if scored:
                qmeta[tid] = (idf_fn(n_docs, df) * boost, boost)
            else:
                qmeta[tid] = (0.0, 0.0)
    phrase_specs = []
    for tids, slop, boost, scored in shape.phrases:
        if shape.mode in ("or", "dismax") and any(
            t not in meta for t in tids
        ):
            # an out-of-vocabulary leg in a disjunction clause: the
            # phrase matches nothing — drop the clause (it still counts
            # toward msm infeasibility below, like an OOV term)
            continue
        leg_tids = [int(meta[t][0]) for t in tids]
        w_p = (
            sum(idf_fn(n_docs, meta[t][1]) for t in tids) * boost
            if scored
            else 0.0
        )
        phrase_specs.append((leg_tids, slop, w_p))
    termset_specs = []
    neg_set_tids: set = set()
    opt_set_specs = []
    if shape.multis or shape.neg_multis or shape.opt_multis:
        # ONE dictionary job for ALL patterns — conjunct sets, exclusion
        # sets, optional sets — and one lookup for all expansion terms
        # (the executor's batching discipline)
        pat_nodes = (
            [m for m, _s in shape.multis]
            + list(shape.neg_multis)
            + [m for m, _b in shape.opt_multis]
        )
        exps = _expand_scoped_many(index, pat_nodes)
        mmeta = index.lookup_terms(
            sorted({t for exp in exps for t in exp})
        )
        n_m = len(shape.multis)
        n_n = len(shape.neg_multis)
        for (mnode, scored), exp in zip(shape.multis, exps[:n_m]):
            mtids = sorted(
                int(mmeta[t][0]) for t in exp if t in mmeta
            )
            if not mtids:
                if shape.mode in ("or", "dismax"):
                    # a disjunction clause whose pattern matches NO
                    # vocabulary term matches nothing — drop the clause
                    continue
                # a required (or filter) multi-term conjunct whose
                # pattern matches NO vocabulary term: the conjunction
                # matches nothing (Lucene: a must clause rewritten to
                # the empty disjunction)
                return _EMPTY_PLAN
            termset_specs.append(
                (tuple(mtids), float(mnode.boost) if scored else 0.0)
            )
        # exclusion patterns: the expansion's term ids simply join the
        # neg_tids union (the kernel's ReqExclScorer discipline already
        # IS a set union); a pattern with no vocabulary expansion
        # excludes nothing
        for exp in exps[n_m:n_m + n_n]:
            neg_set_tids |= {int(mmeta[t][0]) for t in exp if t in mmeta}
        # optional patterns (constant-score optional sets): one with no
        # vocabulary expansion matches nothing — it just stops counting
        # toward minimum_should_match, like an OOV optional term
        for (_mnode, boost), exp in zip(shape.opt_multis, exps[n_m + n_n:]):
            mtids = sorted(int(mmeta[t][0]) for t in exp if t in mmeta)
            if mtids:
                opt_set_specs.append((tuple(mtids), float(boost)))
    # required disjunction groups: OOV member entries match nothing and
    # drop; if fewer entries remain than the group's msm requires, the
    # conjunction matches nothing (a must clause rewritten to an
    # unsatisfiable disjunction)
    group_specs = []
    for (members, gmsm, gscored), keys in zip(shape.groups, gkeys):
        entries = []
        for (_v, _f, boost), key in zip(members, keys):
            if key in meta:
                tid, df = meta[key]
                w = idf_fn(n_docs, df) * boost if gscored else 0.0
                entries.append((int(tid), w))
        if len(entries) < gmsm:
            return _EMPTY_PLAN
        group_specs.append((entries, int(gmsm)))
    if (
        not qmeta and not phrase_specs and not termset_specs
        and not group_specs
    ):
        return _EMPTY_PLAN
    # optional (should) terms/phrases: out-of-vocabulary ones match
    # nothing — they just stop counting toward minimum_should_match.
    # If fewer remain than msm requires, NO doc can qualify
    opt_meta = {}
    for (v, f, boost), key in zip(shape.opts, okeys):
        if key in meta:
            tid, df = meta[key]
            opt_meta[int(tid)] = (idf_fn(n_docs, df) * boost, boost)
    opt_phrase_specs = []
    for tids, slop, boost in shape.opt_phrases:
        if all(t in meta for t in tids):  # an OOV leg: matches nothing
            opt_phrase_specs.append((
                [int(meta[t][0]) for t in tids],
                slop,
                sum(idf_fn(n_docs, meta[t][1]) for t in tids) * boost,
            ))
    if shape.opt_msm > (
        len(opt_meta) + len(opt_phrase_specs) + len(opt_set_specs)
    ):
        return _EMPTY_PLAN
    # must_not terms absent from the dictionary exclude nothing; a term
    # that is both required and excluded stays in BOTH sets (the kernel
    # then scores and excludes it — "a AND NOT a" is naturally empty)
    neg_tids = sorted(
        {int(meta[v][0]) for v in set(neg_vals) if v in meta}
        | neg_set_tids
    )

    if (
        shape.mode == "and" and shape.ranges and not qmeta
        and not termset_specs and not group_specs and phrase_specs
    ):
        # phrase-ONLY conjunction + dv range ("\"stack trace\" AND
        # ts>X"): the positional kernel returns no dv streams and no
        # other conjunct exists to carry them, but every match contains
        # ALL legs of every required phrase, so the rarest leg
        # intersects without changing the match set.  Synthesize it as
        # UNSCORED membership (weight and boost 0 — adds no score,
        # leaves pruning bounds intact): its decode carries the dv
        # streams and the range mask prunes candidates there, before
        # any positional work.  (Set/group conjuncts carry dv at their
        # own decode — no carrier needed when one is present.)
        carrier = min(set(pvals), key=lambda t: (meta[t][1], t))
        qmeta[int(meta[carrier][0])] = (0.0, 0.0)
    all_tids = (
        {int(t) for t in qmeta}
        | set(neg_tids)
        | {t for legs, _s, _w in phrase_specs for t in legs}
        | {int(t) for tids, _c in termset_specs for t in tids}
        | set(opt_meta)
        | {t for legs, _s, _w in opt_phrase_specs for t in legs}
        | {int(t) for tids, _b in opt_set_specs for t in tids}
        | {tid for entries, _m in group_specs for tid, _w in entries}
    )
    kernel = _make_kernel(qmeta, shape.mode, shape.msm, k, avgdl, neg_tids,
                          shape.ranges, phrases=phrase_specs,
                          termsets=termset_specs,
                          opts=opt_meta, opt_msm=shape.opt_msm,
                          tie=shape.tie, opt_phrases=opt_phrase_specs,
                          opt_sets=opt_set_specs, groups=group_specs)
    return KernelPlan(kernel, tuple(sorted(all_tids)))


def wand_search(
    index: BzzzIndex, node: ast.Query, size: int = 20, page: int = 0
) -> DataFrame | None:
    """Top-k via the block-max path; None if the shape is unsupported."""
    k = page * size + size
    cand = wand_candidates(index, node, k)
    if cand is None:
        return None
    top = cand.orderBy(F.col("score").desc(), F.col("docid").asc()).limit(k)
    if page > 0:
        from pyspark.sql import Window

        w = Window.orderBy(F.col("score").desc(), F.col("docid").asc())
        top = (
            top.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > page * size)
            .drop("__rn")
        )
    return top
