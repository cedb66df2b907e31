"""Block-max pruned top-k scoring — the fast path for flat queries.

The reference scores doc-at-a-time per segment leaf with a priority
queue (Lucene; the leapfrog pattern is visible in
reference src/java/bzzz/java/query/TermPayloadClojureScoreQuery.java:237-257).
The Spark translation keeps the per-leaf structure: each docid-range
*segment* is scored independently by a vectorized numpy kernel (one
applyInPandas task per segment), emitting a per-segment top-k; Spark's
TakeOrderedAndProject is the cross-segment PQ merge.  Document lengths
come from the blocks' INLINE norms stream (dls), so the only shuffle
in a query is the (tiny) query-term block set grouping by segment —
no norms table is ever shipped (the earlier design cogrouped a
(docid, dl) projection per touched segment; at 10^12 docs that is a
terabyte-class shuffle per query).
θ cannot be shared across segments (they run in parallel), so pruning
is per-segment — still exact, just conservative, and embarrassingly
parallel at 1000-executor scale.

Pruning by query shape (all results EXACT — pruning never changes them;
tests cross-check against the exhaustive executor and the oracle):

- single term: a doc's whole score lives in one block, so blocks are
  processed in descending block_max_score order and processing stops
  once the kth-best score ≥ the next block's max (classic block-max
  top-k).
- conjunction (AND): block-granular leapfrog — the rarest term's blocks
  are decoded first; every other term's blocks are skipped entirely
  unless their [first_docid, last_docid] range intersects a candidate,
  plus a block-max bound: a block is skipped when its max score + the
  other terms' remaining max < the current kth best of full matches.
- disjunction (OR/minimum-should-match): MaxScore (Turtle & Flood) at
  block granularity — terms processed in descending upper-bound order
  (UB_t = boost · max block_max_score) into a dense per-segment
  accumulator; once the unprocessed terms' combined UB falls below the
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

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bzzz_spark import BM25_B, BM25_K1
from bzzz_spark.build.codec import (
    decode_block,
    decode_blocks_batch,
    decode_varints,
    decode_zigzag,
)
from bzzz_spark.build.indexer import BzzzIndex
from bzzz_spark.query import ast
from bzzz_spark.query.scoring import idf as idf_fn


from dataclasses import dataclass, field as _dc_field


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
    blocks = index.postings.filter(
        F.col("term_id").isin([int(t) for t in plan.tids])
    )
    return _run_kernel(index, blocks, plan.kernel)


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

    Negative boosts fall back: block_max_score bounds assume
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


def _tfc(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    return (
        tf
        * (BM25_K1 + 1.0)
        / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
    )


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
    """qmeta: term_id -> (weight = idf*boost, boost).  Returns the
    per-segment kernel blocks_pdf -> top-k pdf.  Document lengths are
    decoded from the blocks' inline dls stream (0 → avgdl, the
    norms-disabled sentinel) — the kernel needs no side input.

    neg_tids: must_not terms (Lucene ReqExclScorer): their blocks ride
    the same scan but are decoded ONLY where their [first_docid,
    last_docid] range intersects a surviving candidate — an excluded
    head term ("NOT the") decodes just the blocks overlapping the
    positive candidates.

    ranges (and-mode only): (ast.Range, contrib) predicates over
    columns the index inlines as doc-values — evaluated against the
    rarest term's decoded dv stream, so `term AND range` prunes
    candidates at first decode and never touches the docs table
    (Lucene NumericDocValues filter).  contrib is the score a match
    adds (the Range's boost under Bool(must) sum semantics; 0.0 for a
    Filtered filter arm, which intersects without scoring).

    phrases (and-mode only): (tid_order, slop, weight) pseudo-term
    conjuncts — each evaluated by phrase_segment_kernel restricted to
    the surviving candidate set, so `error AND "stack trace"` decodes
    the phrase legs' blocks only where error's candidates live (and
    vice versa when the phrase anchors).  weight = Σ idf(leg) × boost
    (Lucene PhraseWeight), 0.0 for filter arms.

    opts (and-mode only): tid -> (weight, boost) OPTIONAL terms (Bool
    with both must and should — Lucene ReqOptSumScorer): they never
    admit candidates, so their blocks decode only where they overlap
    the conjunction's survivors (the exclusion-term discipline, with
    score added instead of removed); opt_msm of them must match for a
    doc to qualify.  Their upper bounds widen θ's pruning bound — a
    non-top-k conjunction doc could still reach the top-k via optional
    contributions, so pruning accounts for them.

    termsets (and-mode only): (member_tids, contrib) set conjuncts —
    an expanded Wildcard/Fuzzy inside the conjunction: the doc must
    appear in ANY member term's postings, scoring the constant
    `contrib` (Lucene CONSTANT_SCORE_REWRITE; 0.0 for filter arms).
    Member blocks decode only where they overlap surviving candidates
    — `error AND status:5*` never decodes expansion blocks outside
    error's candidate ranges.

    groups (and-mode only): (entries, msm) REQUIRED disjunction groups
    ("(a OR b) AND (c OR d)" — Lucene evaluates the inner BooleanQuery
    as a required DisjunctionSumScorer clause): entries is a list of
    (tid, weight) member entries (duplicates each score and count), a
    doc must match >= msm of them, and matched entries add
    weight × tf-component.  A group is a conjunct in the ascending
    estimated-size intersection order — when another conjunct is
    rarer, member blocks decode only where they overlap its surviving
    candidates; when the group is smallest, its member union drives."""
    neg_tids = list(neg_tids or [])
    ranges = list(ranges or [])
    phrases = list(phrases or [])
    termsets = list(termsets or [])
    opts = dict(opts or {})
    opt_phrases = list(opt_phrases or [])  # (leg_tids, slop, weight)
    # opt_sets: (member_tids, boost) OPTIONAL constant-score term sets
    # (a Wildcard/Fuzzy should clause under ReqOptSumScorer): matching
    # ANY member adds the boost and counts 1 toward opt_msm; member
    # blocks decode only where they overlap the conjunction's survivors
    opt_sets = list(opt_sets or [])
    groups = list(groups or [])
    range_boost = float(sum(c for _r, c in ranges))
    dv_want = tuple(dict.fromkeys(r.field_name for r, _c in ranges))

    def kernel(blocks: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"docid": pd.Series(dtype="int64"),
                              "score": pd.Series(dtype="float64")})
        if len(blocks) == 0:
            return empty

        # incremental must_not (Lucene ReqExclScorer): exclusion blocks
        # decode lazily, only when their docid range first overlaps a
        # candidate batch; every decoded exclusion docid is remembered
        # so later batches check the full decoded set without re-decode
        if neg_tids:
            neg_all = blocks[blocks["term_id"].isin(neg_tids)].reset_index(
                drop=True
            )
            neg_done = np.zeros(len(neg_all), dtype=bool)
            neg_first = neg_all["first_docid"].to_numpy()
            neg_last = neg_all["last_docid"].to_numpy()
        neg_docs = np.empty(0, dtype=np.int64)

        def keep_sorted(d_sorted: np.ndarray) -> np.ndarray:
            """bool mask over a SORTED docid batch: True where the doc
            is NOT matched by any must_not term."""
            nonlocal neg_docs
            if not neg_tids or d_sorted.size == 0:
                return np.ones(d_sorted.size, dtype=bool)
            lo = np.searchsorted(d_sorted, neg_first, "left")
            hi = np.searchsorted(d_sorted, neg_last, "right")
            need = (hi > lo) & ~neg_done
            if need.any():
                rows = neg_all[need]
                neg_done[need] = True
                nd, _t, _s = decode_blocks_batch(
                    rows["first_docid"].to_numpy(),
                    rows["count"].to_numpy(),
                    rows["doc_gaps"].tolist(),
                    rows["tfs"].tolist(),
                )
                neg_docs = np.union1d(neg_docs, nd)
            if neg_docs.size == 0:
                return np.ones(d_sorted.size, dtype=bool)
            idx = np.clip(np.searchsorted(neg_docs, d_sorted), 0,
                          neg_docs.size - 1)
            return neg_docs[idx] != d_sorted

        def decode_one(r):
            d, t = decode_block(r.first_docid, r.count, r.doc_gaps, r.tfs)
            dl = decode_varints(r.dls, r.count).astype(np.float64)
            if dl.size and dl.min() == 0:
                dl = np.where(dl == 0, avgdl, dl)
            return d, t.astype(np.float64), dl

        def decode_many(rows: pd.DataFrame) -> list:
            """Per-block (d, t, dl) tuples via ONE batched varint pass
            (the per-block decode_one call overhead dominated wide
            conjunctions' cache fills)."""
            counts = rows["count"].to_numpy()
            d, t, _seg = decode_blocks_batch(
                rows["first_docid"].to_numpy(), counts,
                rows["doc_gaps"].tolist(), rows["tfs"].tolist(),
            )
            dl = decode_varints(b"".join(rows["dls"])).astype(np.float64)
            if dl.size and dl.min() == 0:
                dl = np.where(dl == 0, avgdl, dl)
            cuts = np.cumsum(counts)[:-1]
            return list(zip(
                np.split(d, cuts),
                np.split(t.astype(np.float64), cuts),
                np.split(dl, cuts),
            ))

        def decode(rows: pd.DataFrame, want_dv: tuple = ()):
            # batched: ONE varint decode per stream across all blocks
            # (per-block decode_block calls cost ~0.1 ms each of
            # call overhead — thousands of blocks made that the hot
            # spot for wide termset/disjunction queries)
            d, t, _seg = decode_blocks_batch(
                rows["first_docid"].to_numpy(),
                rows["count"].to_numpy(),
                rows["doc_gaps"].tolist(),
                rows["tfs"].tolist(),
            )
            dl = decode_varints(b"".join(rows["dls"])).astype(np.float64)
            if dl.size and dl.min() == 0:
                dl = np.where(dl == 0, avgdl, dl)
            o = np.argsort(d, kind="stable")
            out_dv = {
                c: decode_zigzag(b"".join(rows[f"dv_{c}"]))[o]
                for c in want_dv
            }
            return d[o], t[o].astype(np.float64), dl[o], out_dv

        def topk(docids: np.ndarray, scores: np.ndarray) -> pd.DataFrame:
            o = np.lexsort((docids, -scores))[:k]  # (score desc, docid asc)
            return pd.DataFrame({"docid": docids[o], "score": scores[o]})

        def dv_mask(dvv: dict, n: int) -> np.ndarray:
            """Row mask for the range predicates over decoded dv streams
            (one value per posting row; a doc's value is identical in
            every term's stream, so masking rows masks docs)."""
            m = np.ones(n, dtype=bool)
            for rg, _c in ranges:
                v = dvv[rg.field_name]
                if rg.min is not None:
                    m &= ((v >= rg.min) if rg.min_inclusive
                          else (v > rg.min))
                if rg.max is not None:
                    m &= ((v <= rg.max) if rg.max_inclusive
                          else (v < rg.max))
            return m

        # optional terms (and-mode Lucene ReqOptSumScorer): per-term
        # block metadata + cross-chunk decode cache, exactly the
        # exclusion-term discipline but ADDING score on match
        ub_opts = 0.0
        opt_present: list = []
        opt_all: dict = {}
        opt_phr_present: list = []
        opt_set_present: list = []
        opt_set_all: dict = {}
        if opts or opt_phrases or opt_sets:
            for si, (mtids, sboost) in enumerate(opt_sets):
                sub = blocks[blocks["term_id"].isin(list(mtids))
                             ].sort_values("first_docid").reset_index(
                    drop=True)
                if len(sub) == 0:
                    continue  # no member has postings in this segment
                opt_set_present.append((si, float(sboost)))
                opt_set_all[si] = (sub, sub["first_docid"].to_numpy(),
                                   sub["last_docid"].to_numpy(), {})
                ub_opts += float(sboost)
                if stats is not None:
                    tb = stats.setdefault("total_blocks", {})
                    tb[f"optset:{si}"] = len(sub)
            for tid in opts:
                sub = blocks[blocks["term_id"] == tid].sort_values(
                    "first_docid").reset_index(drop=True)
                if len(sub) == 0:
                    continue
                opt_present.append(tid)
                opt_all[tid] = (sub, sub["first_docid"].to_numpy(),
                                sub["last_docid"].to_numpy(), {})
                ub_opts += opts[tid][1] * float(sub["block_max_score"].max())
                if stats is not None:
                    tb = stats.setdefault("total_blocks", {})
                    tb[f"opt:{tid}"] = len(sub)
            if opt_phrases:
                seg_tids = set(int(t) for t in blocks["term_id"].unique())
                for spec in opt_phrases:
                    legs, _slop, w_p = spec
                    if all(int(t) in seg_tids for t in legs):
                        opt_phr_present.append(spec)
                        # a phrase block carries no positional upper
                        # bound; tfc < k1+1 bounds its score (loose but
                        # sound — pruning stays exact)
                        ub_opts += w_p * (BM25_K1 + 1.0)
            if opt_msm > (
                len(opt_present) + len(opt_phr_present)
                + len(opt_set_present)
            ):
                # fewer optional clauses can match here than msm
                # requires: no doc in this segment can qualify
                return empty

        def add_opts(cand: np.ndarray, acc: np.ndarray):
            """Score optional terms on the surviving candidates (acc is
            a fresh fancy-indexed copy — in-place add is safe), then
            apply the minimum-should-match cut.  Optional blocks decode
            lazily, only where they overlap candidates, cached across
            chunks; optional phrases run the positional kernel
            restricted to the candidates."""
            if cand.size == 0 or (
                not opt_present and not opt_phr_present
                and not opt_set_present
            ):
                return cand, acc
            ocnt = np.zeros(cand.size, dtype=np.int32)
            for si, sboost in opt_set_present:
                sub, first_d, last_d, cache = opt_set_all[si]
                lo = np.searchsorted(cand, first_d, "left")
                hi = np.searchsorted(cand, last_d, "right")
                need = np.flatnonzero(hi > lo)
                if need.size == 0:
                    continue
                miss = [int(i) for i in need if int(i) not in cache]
                if miss:
                    for i, tpl in zip(miss, decode_many(sub.iloc[miss])):
                        cache[i] = tpl
                    if stats is not None:
                        db = stats.setdefault("decoded_blocks", {})
                        key = f"optset:{si}"
                        db[key] = db.get(key, 0) + len(miss)
                # member blocks span SEVERAL terms, so the concatenated
                # docids are not globally sorted — unique() sorts and
                # dedupes (match-ANY union semantics)
                u = np.unique(
                    np.concatenate([cache[int(i)][0] for i in need])
                )
                pos = np.clip(np.searchsorted(u, cand), 0, u.size - 1)
                hit = u[pos] == cand
                if hit.any():
                    acc[hit] += sboost
                    ocnt[hit] += 1
            for tid in opt_present:
                sub, first_d, last_d, cache = opt_all[tid]
                lo = np.searchsorted(cand, first_d, "left")
                hi = np.searchsorted(cand, last_d, "right")
                need = np.flatnonzero(hi > lo)
                if need.size == 0:
                    continue
                miss = [int(i) for i in need if int(i) not in cache]
                if miss:
                    for i, tpl in zip(miss, decode_many(sub.iloc[miss])):
                        cache[i] = tpl
                    if stats is not None:
                        db = stats.setdefault("decoded_blocks", {})
                        key = f"opt:{tid}"
                        db[key] = db.get(key, 0) + len(miss)
                d = np.concatenate([cache[int(i)][0] for i in need])
                t = np.concatenate([cache[int(i)][1] for i in need])
                dl = np.concatenate([cache[int(i)][2] for i in need])
                pos = np.clip(np.searchsorted(d, cand), 0, d.size - 1)
                hit = d[pos] == cand
                if hit.any():
                    w, _b = opts[tid]
                    acc[hit] += w * _tfc(t[pos[hit]], dl[pos[hit]], avgdl)
                    ocnt[hit] += 1
            if opt_phr_present:
                from bzzz_spark.query.phrase import phrase_segment_kernel

                for legs, slop, w_p in opt_phr_present:
                    res = phrase_segment_kernel(
                        blocks, list(legs), slop, stats=stats, restrict=cand
                    )
                    d = res["docid"].to_numpy()
                    if d.size == 0:
                        continue
                    ptf = res["ptf"].to_numpy()
                    pdl = res["dl"].to_numpy().astype(np.float64)
                    pdl = np.where(pdl == 0, avgdl, pdl)
                    # restrict guarantees d ⊆ cand, both ascending
                    idx = np.searchsorted(cand, d)
                    acc[idx] += w_p * _tfc(ptf, pdl, avgdl)
                    ocnt[idx] += 1
            if opt_msm > 0:
                m = ocnt >= opt_msm
                return cand[m], acc[m]
            return cand, acc

        if mode == "any":
            # constant-score match-any: k smallest matching docids.
            # Blocks ascend by first_docid; once the kth-smallest docid
            # found so far precedes every remaining block's range, no
            # remaining block can contribute — stop decoding.
            boost = next(iter(qmeta.values()))[1]
            sub = blocks[blocks["term_id"].isin(list(qmeta))]
            if len(sub) == 0:
                return empty
            sub = sub.sort_values("first_docid", kind="stable")
            got = np.empty(0, dtype=np.int64)
            for r in sub.itertuples(index=False):
                if got.size >= k and got[k - 1] < r.first_docid:
                    break
                d, _t = decode_block(r.first_docid, r.count, r.doc_gaps,
                                     r.tfs)
                got = np.union1d(got, d)[:k]
                if stats is not None:
                    stats["decoded_blocks"] = (
                        stats.get("decoded_blocks", 0) + 1
                    )
            if stats is not None:
                stats["total_blocks"] = len(sub)
            if got.size == 0:
                return empty
            return pd.DataFrame(
                {"docid": got, "score": np.full(got.size, boost)}
            )

        if mode == "term":
            (tid, (w, boost)) = next(iter(qmeta.items()))
            sub = blocks[blocks["term_id"] == tid]
            if len(sub) == 0:
                return empty
            # block-max top-k: process blocks in descending max-score
            # order; stop when the kth best so far beats every remaining
            # block's upper bound.  Exact: a doc's whole score for a
            # single-term query lives in exactly one block.
            sub = sub.sort_values("block_max_score", ascending=False)
            theta = -np.inf
            seen = 0
            out_d: list[np.ndarray] = []
            out_s: list[np.ndarray] = []
            for r in sub.itertuples(index=False):
                if seen >= k and boost * r.block_max_score < theta:
                    # all remaining blocks are upper-bounded BELOW θ.
                    # Strictly below: a block whose bound EQUALS θ can
                    # still hold a score-tied doc with a smaller docid,
                    # which wins the (score desc, docid asc) tie-break
                    # (e.g. boost=0 makes every score 0)
                    break
                d, t, dl = decode_one(r)
                s = w * _tfc(t, dl, avgdl)
                out_d.append(d)
                out_s.append(s)
                seen += d.size
                if seen >= k:
                    flat = np.concatenate(out_s)
                    theta = np.partition(flat, flat.size - k)[flat.size - k]
            return topk(np.concatenate(out_d), np.concatenate(out_s))

        if mode == "and" and (phrases or termsets or groups):
            # Mixed conjunction (terms + phrase pseudo-terms): conjuncts
            # are intersected in ascending estimated-size order — a
            # phrase's candidates are a subset of its rarest leg, so its
            # estimate is min(leg size).  No θ-pruning here (a phrase
            # block carries no positional upper bound), but every
            # non-anchor conjunct — term or phrase leg — decodes only
            # blocks overlapping the surviving candidates, the same
            # leapfrog discipline as the pure-term path (ref
            # TermPayloadClojureScoreQuery.java:237-257, uniformly).
            from bzzz_spark.query.phrase import phrase_segment_kernel

            sizes = blocks.groupby("term_id")["count"].sum()
            needed = set(qmeta) | {
                int(t) for tids, _s, _w in phrases for t in tids
            }
            if not needed.issubset(set(sizes.index)):
                return empty  # a conjunct term has no postings here
            # a set conjunct needs at least ONE member with postings
            # (absent members just shrink the union, they do not fail
            # the conjunction)
            present = set(sizes.index)
            for tids, _c in termsets:
                if not any(int(t) in present for t in tids):
                    return empty
            # a group needs >= msm member ENTRIES with postings here —
            # fewer and no doc in this segment can satisfy it
            for entries, gmsm in groups:
                if sum(1 for t, _w in entries if int(t) in present) < gmsm:
                    return empty
            conj: list[tuple[int, str, object]] = []
            for tid in qmeta:
                conj.append((int(sizes[tid]), "t", tid))
            for pi, (tids, _s, _w) in enumerate(phrases):
                conj.append((int(min(sizes[int(t)] for t in tids)), "p", pi))
            for si, (tids, _c) in enumerate(termsets):
                # union size is upper-bounded by the member sum
                est = int(sum(sizes[int(t)] for t in tids
                              if int(t) in present))
                conj.append((est, "s", si))
            for gi, (entries, _m) in enumerate(groups):
                est = int(sum(sizes[int(t)] for t, _w in entries
                              if int(t) in present))
                conj.append((est, "g", gi))
            conj.sort(key=lambda x: x[0])
            cand = acc = None
            # doc-value range predicates ride the FIRST term, set or
            # group conjunct's decode (wand_candidates synthesizes an
            # unscored phrase-leg term when only phrases conjoin): its
            # inline dv streams carry the values, and the mask prunes
            # candidates right there.  Phrase conjuncts skip (the
            # positional kernel returns no dv streams)
            dv_pending = bool(ranges)
            for _est, kind, key in conj:
                if kind == "p":
                    tids, slop, w_p = phrases[key]
                    res = phrase_segment_kernel(
                        blocks, list(tids), slop, stats=stats, restrict=cand
                    )
                    d = res["docid"].to_numpy()
                    if d.size == 0:
                        return empty
                    ptf = res["ptf"].to_numpy()
                    pdl = res["dl"].to_numpy().astype(np.float64)
                    pdl = np.where(pdl == 0, avgdl, pdl)
                    s = w_p * _tfc(ptf, pdl, avgdl)
                    if cand is None:
                        cand, acc = d, s
                    else:
                        # res docids ⊆ cand and both ascend — map back
                        idx = np.searchsorted(cand, d)
                        acc = acc[idx] + s
                        cand = d
                elif kind == "g":
                    # required disjunction group: decode members per
                    # tid (duplicate entries score and count per
                    # OCCURRENCE), union the docids, gate on msm.
                    # Blocks prune to candidate-overlapping ranges
                    # exactly like set conjuncts — a group behind a
                    # rarer conjunct never decodes its full postings.
                    entries, gmsm = groups[key]
                    ent = [(int(t), w) for t, w in entries
                           if int(t) in present]
                    utids = sorted({t for t, _w in ent})
                    sub = blocks[blocks["term_id"].isin(utids)
                                 ].sort_values("first_docid")
                    gkey = f"grp:{key}"
                    if stats is not None:
                        tb = stats.setdefault("total_blocks", {})
                        tb[gkey] = tb.get(gkey, 0) + len(sub)
                    if cand is not None:
                        lo = np.searchsorted(
                            cand, sub["first_docid"].to_numpy(), "left"
                        )
                        hi = np.searchsorted(
                            cand, sub["last_docid"].to_numpy(), "right"
                        )
                        sub = sub[hi > lo]
                        if len(sub) == 0:
                            return empty
                    if stats is not None:
                        db = stats.setdefault("decoded_blocks", {})
                        db[gkey] = db.get(gkey, 0) + len(sub)
                    per: dict[int, tuple] = {}
                    for tid in utids:
                        tsub = sub[sub["term_id"] == tid]
                        if len(tsub) == 0:
                            # every block pruned: no member doc can be
                            # a survivor, so skipping is exact
                            continue
                        d, t, dl, dvv = decode(
                            tsub, dv_want if dv_pending else ()
                        )
                        if dv_pending:
                            # mask EVERY member's rows (a doc may enter
                            # the union via any member); a doc's dv
                            # value is identical in all member streams,
                            # so the msm occurrence count is unchanged
                            # for in-range docs
                            m = dv_mask(dvv, d.size)
                            d, t, dl = d[m], t[m], dl[m]
                            if d.size == 0:
                                continue
                        per[tid] = (d, t, dl)
                    if dv_pending:
                        dv_pending = False
                    if not per:
                        return empty
                    u = np.unique(
                        np.concatenate([per[t][0] for t in per])
                    )
                    gscore = np.zeros(u.size)
                    gcnt = np.zeros(u.size, dtype=np.int32)
                    for tid, w in ent:
                        if tid not in per:
                            continue
                        d, t, dl = per[tid]
                        idx = np.searchsorted(u, d)
                        gcnt[idx] += 1
                        if w != 0.0:
                            gscore[idx] += w * _tfc(t, dl, avgdl)
                    gm = gcnt >= gmsm
                    gd, gs = u[gm], gscore[gm]
                    if gd.size == 0:
                        return empty
                    if cand is None:
                        cand, acc = gd, gs
                    else:
                        pos = np.clip(np.searchsorted(gd, cand), 0,
                                      gd.size - 1)
                        hit = gd[pos] == cand
                        if not hit.any():
                            return empty
                        cand = cand[hit]
                        acc = acc[hit] + gs[pos[hit]]
                elif kind == "s":
                    tids, contrib = termsets[key]
                    member = [int(t) for t in tids if int(t) in present]
                    sub = blocks[blocks["term_id"].isin(member)].sort_values(
                        "first_docid"
                    )
                    skey = f"set:{key}"
                    if stats is not None:
                        tb = stats.setdefault("total_blocks", {})
                        tb[skey] = tb.get(skey, 0) + len(sub)
                    if cand is not None:
                        lo = np.searchsorted(
                            cand, sub["first_docid"].to_numpy(), "left"
                        )
                        hi = np.searchsorted(
                            cand, sub["last_docid"].to_numpy(), "right"
                        )
                        sub = sub[hi > lo]
                        if len(sub) == 0:
                            return empty
                    if stats is not None:
                        db = stats.setdefault("decoded_blocks", {})
                        db[skey] = db.get(skey, 0) + len(sub)
                    d, _t, _dl, dvv = decode(
                        sub, dv_want if dv_pending else ()
                    )
                    if dv_pending:
                        # every member posting of a doc inlines the same
                        # dv value, so the row mask before the union
                        # removes exactly the out-of-range docs
                        d = d[dv_mask(dvv, d.size)]
                        dv_pending = False
                        if d.size == 0:
                            return empty
                    # union across member terms: one row per docid
                    u = np.unique(d)
                    if cand is None:
                        cand = u
                        acc = np.full(u.size, float(contrib))
                    else:
                        pos = np.clip(np.searchsorted(u, cand), 0,
                                      u.size - 1)
                        hit = u[pos] == cand
                        if not hit.any():
                            return empty
                        cand = cand[hit]
                        acc = acc[hit] + contrib
                else:
                    tid = key
                    sub = blocks[blocks["term_id"] == tid].sort_values(
                        "first_docid"
                    )
                    if stats is not None:
                        tb = stats.setdefault("total_blocks", {})
                        tb[tid] = tb.get(tid, 0) + len(sub)
                    if cand is not None:
                        lo = np.searchsorted(
                            cand, sub["first_docid"].to_numpy(), "left"
                        )
                        hi = np.searchsorted(
                            cand, sub["last_docid"].to_numpy(), "right"
                        )
                        sub = sub[hi > lo]
                        if len(sub) == 0:
                            return empty
                    if stats is not None:
                        db = stats.setdefault("decoded_blocks", {})
                        db[tid] = db.get(tid, 0) + len(sub)
                    d, t, dl, dvv = decode(
                        sub, dv_want if dv_pending else ()
                    )
                    if dv_pending:
                        m = dv_mask(dvv, d.size)
                        d, t, dl = d[m], t[m], dl[m]
                        dv_pending = False
                        if d.size == 0:
                            return empty
                    w, _b = qmeta[tid]
                    if cand is None:
                        cand = d
                        acc = w * _tfc(t, dl, avgdl)
                    else:
                        pos = np.clip(np.searchsorted(d, cand), 0,
                                      max(d.size - 1, 0))
                        hit = d[pos] == cand
                        if not hit.any():
                            return empty
                        cand = cand[hit]
                        acc = acc[hit] + w * _tfc(
                            t[pos[hit]], dl[pos[hit]], avgdl
                        )
                if cand.size == 0:
                    return empty
            km = keep_sorted(cand)
            if not km.any():
                return empty
            kd, ka = add_opts(cand[km], acc[km] + range_boost)
            if kd.size == 0:
                return empty
            return topk(kd, ka)

        if mode == "and":
            # Block-max conjunction (Lucene BlockMaxConjunctionScorer,
            # block-at-a-time): the rarest term's blocks are processed
            # in DESCENDING block-max-score chunks; once θ (the kth
            # best completed match) exceeds the next chunk's bound plus
            # the other terms' global upper bounds, the remaining rare
            # blocks cannot host a top-k doc and are never decoded.
            # Within each chunk the original block-granular leapfrog
            # applies: other terms decode only blocks overlapping the
            # chunk's surviving candidates (cached across chunks, so
            # nothing decodes twice).  Exclusion terms are not
            # conjuncts — drop them from sizes.
            sizes = blocks.groupby("term_id")["count"].sum()
            sizes = sizes[sizes.index.isin(list(qmeta))]
            if len(sizes) < len(qmeta):
                return empty  # a must-term has no postings in this segment
            t_order = list(sizes.sort_values().index)
            rare_tid = t_order[0]
            others = t_order[1:]
            w_r, boost_r = qmeta[rare_tid]
            ub_others = 0.0
            osub: dict = {}
            ocache: dict = {}
            obounds: dict = {}
            for tid in others:
                sub = blocks[blocks["term_id"] == tid].sort_values(
                    "first_docid").reset_index(drop=True)
                osub[tid] = sub
                ocache[tid] = {}
                # block-range metadata is chunk-invariant — extract once
                obounds[tid] = (sub["first_docid"].to_numpy(),
                                sub["last_docid"].to_numpy())
                ub_others += qmeta[tid][1] * float(
                    sub["block_max_score"].max()
                )
                if stats is not None:
                    stats.setdefault("total_blocks", {})[tid] = len(sub)
            rsub = blocks[blocks["term_id"] == rare_tid].sort_values(
                "block_max_score", ascending=False)
            if stats is not None:
                stats.setdefault("total_blocks", {})[rare_tid] = len(rsub)
            theta = -np.inf
            out_d: list[np.ndarray] = []
            out_s: list[np.ndarray] = []
            best = np.empty(0, dtype=np.float64)
            seen = 0
            # adaptive chunking: start small so θ-pruning can stop
            # after a handful of high-bound blocks, then double toward
            # 256 — when pruning is NOT winning (skewed head
            # conjunctions whose rare term still has thousands of
            # blocks), the per-iteration Python overhead amortizes
            # instead of running len/8 small loops.  θ only ever
            # grows, so a coarser later chunk never prunes less than
            # its first block's bound allows — exactness is unchanged.
            CHUNK = 8
            start = 0
            while start < len(rsub):
                chunk = rsub.iloc[start:start + CHUNK]
                start += CHUNK
                CHUNK = min(256, CHUNK * 2)
                bound = (boost_r * float(chunk["block_max_score"].iloc[0])
                         + ub_others + range_boost + ub_opts)
                if seen >= k and bound < theta:
                    # strictly below θ: a bound-tied doc could still
                    # win the docid tie-break, so ties keep decoding
                    break
                cand_d, cand_t, cand_dl, dvv = decode(chunk, dv_want)
                if stats is not None:
                    db = stats.setdefault("decoded_blocks", {})
                    db[rare_tid] = db.get(rare_tid, 0) + len(chunk)
                if ranges:
                    # doc-value range predicates prune at FIRST decode —
                    # every later term's block set shrinks accordingly
                    m = dv_mask(dvv, cand_d.size)
                    cand_d, cand_t, cand_dl = cand_d[m], cand_t[m], cand_dl[m]
                if cand_d.size == 0:
                    continue
                acc = w_r * _tfc(cand_t, cand_dl, avgdl) + range_boost
                for tid in others:
                    sub = osub[tid]
                    # block-granular leapfrog: skip blocks whose
                    # [first_docid, last_docid] range holds no candidate
                    first_d, last_d = obounds[tid]
                    lo = np.searchsorted(cand_d, first_d, "left")
                    hi = np.searchsorted(cand_d, last_d, "right")
                    need = np.flatnonzero(hi > lo)
                    if need.size == 0:
                        cand_d = cand_d[:0]
                        break
                    cache = ocache[tid]
                    miss = [int(i) for i in need if int(i) not in cache]
                    if miss:
                        for i, tpl in zip(miss, decode_many(sub.iloc[miss])):
                            cache[i] = tpl
                        if stats is not None:
                            db = stats.setdefault("decoded_blocks", {})
                            db[tid] = db.get(tid, 0) + len(miss)
                    # `need` ascends and one term's blocks have disjoint
                    # ascending docid ranges → the concatenation is sorted
                    d = np.concatenate([cache[int(i)][0] for i in need])
                    t = np.concatenate([cache[int(i)][1] for i in need])
                    dl = np.concatenate([cache[int(i)][2] for i in need])
                    pos = np.clip(np.searchsorted(d, cand_d), 0, d.size - 1)
                    hit = d[pos] == cand_d
                    if not hit.any():
                        cand_d = cand_d[:0]
                        break
                    cand_d = cand_d[hit]
                    w, _b = qmeta[tid]
                    acc = acc[hit] + w * _tfc(t[pos[hit]], dl[pos[hit]], avgdl)
                if cand_d.size == 0:
                    continue
                km = keep_sorted(cand_d)
                if not km.any():
                    continue
                kept_d, kept = add_opts(cand_d[km], acc[km])
                if kept_d.size == 0:
                    continue
                out_d.append(kept_d)
                out_s.append(kept)
                seen += kept.size
                # θ via a bounded running top-k: O(chunk + k) per
                # update instead of re-partitioning every accumulated
                # score each chunk
                best = (np.concatenate([best, kept])
                        if best.size else kept)
                if best.size > k:
                    best = np.partition(best, best.size - k)[best.size - k:]
                if seen >= k:
                    theta = best.min()
            if not out_d:
                return empty
            return topk(np.concatenate(out_d), np.concatenate(out_s))

        # mode == "or" / "dismax": MaxScore (Turtle & Flood) over a
        # dense accumulator.  A doc first seen at term i (descending-UB
        # order) can score at most the remaining terms' combined bound;
        # once that bound < θ (the kth best score among candidates
        # already satisfying msm and exclusions), remaining terms stop
        # admitting NEW docs and decode only blocks overlapping
        # surviving candidates — "rare OR the" decodes just the slice
        # of "the" overlapping rare's candidate docids.  Exact: θ only
        # ever underestimates the final kth-best (scores grow
        # monotonically; msm-qualification and exclusion are decided
        # eagerly before a candidate can contribute to θ).
        #
        # dismax combiner (Lucene DisjunctionMaxQuery): score =
        # (1-tie)*max + tie*sum, tracked with a parallel max
        # accumulator.  Monotonic in both parts for tie in [0,1], so
        # the same discipline holds with bounds that maximize the max-
        # and sum-parts independently: a new doc at term i is bounded
        # by (1-tie)*UB_i + tie*suffix_sum_i (UB_i is the largest
        # remaining — descending order), and a candidate's potential is
        # (1-tie)*max(mx, UB_next) + tie*(acc + suffix_sum_next).
        # clauses are Terms AND/OR Phrase pseudo-terms: a phrase clause
        # is bounded by w_p*(k1+1) (no positional upper bound exists in
        # block metadata — loose but sound, so pruning stays exact);
        # while admitting it evaluates phrase_segment_kernel over the
        # whole segment (itself rarest-leg block-pruned), and once
        # admission closes it evaluates restricted to the surviving
        # candidates only.
        is_dismax = mode == "dismax"
        entries: list = []  # ("t", tid, ub, sub) | ("p", spec, ub, None)
        involved: list = list(qmeta)
        for tid in qmeta:
            sub = blocks[blocks["term_id"] == tid]
            if len(sub) == 0:
                continue
            ub = qmeta[tid][1] * float(sub["block_max_score"].max())
            entries.append(("t", tid, ub, sub))
            if stats is not None:
                stats.setdefault("total_blocks", {})[tid] = len(sub)
        if phrases or termsets:
            seg_tids = set(int(t) for t in blocks["term_id"].unique())
            for legs, slop_p, w_p in (phrases or []):
                if not all(int(t) in seg_tids for t in legs):
                    continue  # a leg has no postings here: cannot match
                entries.append(
                    ("p", (legs, slop_p, w_p), w_p * (BM25_K1 + 1.0), None)
                )
                involved.extend(int(t) for t in legs)
            # constant-score term-set clauses (Wildcard/Fuzzy
            # expansions): contribution = contrib if ANY member term
            # matches, so the upper bound IS contrib
            for si, (tids, contrib) in enumerate(termsets or []):
                member = [int(t) for t in tids if int(t) in seg_tids]
                if not member:
                    continue  # no member has postings here
                entries.append(("s", (si, member, contrib), contrib, None))
                involved.extend(member)
                if stats is not None:
                    tb = stats.setdefault("total_blocks", {})
                    tb[f"set:{si}"] = int(
                        blocks["term_id"].isin(member).sum()
                    )
        if not entries:
            return empty
        entries.sort(key=lambda x: -x[2])
        ubs = [ub for _kind, _key, ub, _sub in entries]
        suffix_ub = np.cumsum(ubs[::-1])[::-1]
        if is_dismax:
            admit_bound = [(1.0 - tie) * ubs[i] + tie * suffix_ub[i]
                           for i in range(len(ubs))]
        else:
            admit_bound = suffix_ub
        pos_mask = blocks["term_id"].isin(involved)
        base = int(blocks.loc[pos_mask, "first_docid"].min())
        span = int(blocks.loc[pos_mask, "last_docid"].max()) - base + 1
        acc = np.zeros(span, dtype=np.float64)
        mxa = np.zeros(span, dtype=np.float64) if is_dismax else None
        cnt = np.zeros(span, dtype=np.int32)
        excl = np.zeros(span, dtype=bool)
        dead = np.zeros(span, dtype=bool)
        msm_eff = max(msm, 1)
        theta = -np.inf

        def combined(sel) -> np.ndarray:
            if is_dismax:
                return (1.0 - tie) * mxa[sel] + tie * acc[sel]
            return acc[sel]

        def exclude_new(new_d: np.ndarray) -> None:
            """Mark admitted docids matched by any must_not term
            (lazy block decode + caching via keep_sorted)."""
            if not neg_tids or new_d.size == 0:
                return
            m = keep_sorted(new_d)
            excl[new_d[~m] - base] = True

        def update_theta() -> None:
            nonlocal theta
            qual = combined((cnt >= msm_eff) & ~excl & ~dead)
            if qual.size >= k:
                theta = max(
                    theta, np.partition(qual, qual.size - k)[qual.size - k]
                )

        closed = False
        for i, (kind, keyx, _ub, sub) in enumerate(entries):
            if not closed and admit_bound[i] < theta:
                closed = True  # no NEW doc can reach the top-k
            cand_d = None
            if closed:
                cand_off = np.flatnonzero((cnt > 0) & ~excl & ~dead)
                if cand_off.size == 0:
                    break
                cand_d = cand_off + base  # ascending — flatnonzero order
            if kind == "p":
                from bzzz_spark.query.phrase import phrase_segment_kernel

                legs, slop_p, w_p = keyx
                res = phrase_segment_kernel(
                    blocks, list(legs), slop_p, stats=stats,
                    restrict=cand_d,
                )
                d = res["docid"].to_numpy()
                if d.size == 0:
                    continue
                ptf = res["ptf"].to_numpy()
                pdl = res["dl"].to_numpy().astype(np.float64)
                pdl = np.where(pdl == 0, avgdl, pdl)
                c = w_p * _tfc(ptf, pdl, avgdl)
                off = d - base
                new_d = None if closed else d[cnt[off] == 0]
            elif kind == "s":
                si, member, contrib = keyx
                sub = blocks[blocks["term_id"].isin(member)].sort_values(
                    "first_docid"
                )
                if closed:
                    lo = np.searchsorted(
                        cand_d, sub["first_docid"].to_numpy(), "left"
                    )
                    hi = np.searchsorted(
                        cand_d, sub["last_docid"].to_numpy(), "right"
                    )
                    sub = sub[hi > lo]
                    if len(sub) == 0:
                        continue
                if stats is not None:
                    db = stats.setdefault("decoded_blocks", {})
                    skey = f"set:{si}"
                    db[skey] = db.get(skey, 0) + len(sub)
                d, _t, _dl, _ = decode(sub)
                d = np.unique(d)  # one constant contribution per doc
                if closed:
                    idx = np.clip(np.searchsorted(d, cand_d), 0,
                                  d.size - 1)
                    hit = d[idx] == cand_d
                    d = cand_d[hit]
                    new_d = None
                else:
                    new_d = None  # set below from cnt
                off = d - base
                if not closed:
                    new_d = d[cnt[off] == 0]
                c = np.full(d.size, float(contrib))
            else:
                tid = keyx
                w, _boost = qmeta[tid]
                if closed:
                    lo = np.searchsorted(
                        cand_d, sub["first_docid"].to_numpy(), "left"
                    )
                    hi = np.searchsorted(
                        cand_d, sub["last_docid"].to_numpy(), "right"
                    )
                    sub = sub[hi > lo]
                    if len(sub) == 0:
                        continue
                    d, t, dl, _ = decode(sub)
                    idx = np.clip(np.searchsorted(cand_d, d), 0,
                                  cand_d.size - 1)
                    hit = cand_d[idx] == d
                    d, t, dl = d[hit], t[hit], dl[hit]
                    new_d = None
                else:
                    d, t, dl, _ = decode(sub)
                    new_d = None  # set below from cnt
                off = d - base
                if not closed:
                    new_d = d[cnt[off] == 0]
                c = w * _tfc(t, dl, avgdl)
                if stats is not None:
                    stats.setdefault("decoded_blocks", {})[tid] = (
                        stats.get("decoded_blocks", {}).get(tid, 0)
                        + len(sub)
                    )
            acc[off] += c
            if is_dismax:
                mxa[off] = np.maximum(mxa[off], c)
            cnt[off] += 1
            if new_d is not None:
                exclude_new(new_d)
            update_theta()
            if theta > -np.inf and i + 1 < len(entries):
                # retire candidates that cannot reach θ with the
                # remaining terms' upper bounds — later terms' block
                # sets shrink accordingly
                seen_mask = cnt > 0
                if is_dismax:
                    pot_max = np.maximum(mxa, ubs[i + 1])
                    pot = ((1.0 - tie) * pot_max
                           + tie * (acc + suffix_ub[i + 1]))
                else:
                    pot = acc + suffix_ub[i + 1]
                dead |= seen_mask & (pot < theta)
        ok = np.flatnonzero((cnt >= msm_eff) & ~excl & ~dead)
        if ok.size == 0:
            return empty
        return topk(ok + base, combined(ok))

    return kernel


def _run_kernel(index: BzzzIndex, blocks: DataFrame, kernel) -> DataFrame:
    """Execute a per-segment kernel over the query's block set."""
    if getattr(index, "segment_aligned", False):
        # serving layout: postings are already hash-partitioned by
        # segment (BzzzIndex.persist(layout="segment")), so the kernel
        # runs as a NARROW mapInPandas — zero per-query shuffle, the
        # single biggest chunk of Spark's fixed query latency
        def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts = [p for p in it if len(p)]
            if not parts:
                return
            pdf = pd.concat(parts, ignore_index=True)
            for _, g in pdf.groupby("segment", sort=False):
                out = kernel(g)
                if len(out):
                    yield out

        return blocks.mapInPandas(run, "docid long, score double")
    # the ONLY shuffle: the query terms' (small) block set, grouped by
    # segment
    return blocks.groupby("segment").applyInPandas(
        lambda pdf: kernel(pdf), schema="docid long, score double"
    )


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
    wand_candidates fetches the blocks as a term_id-pruned DataFrame
    filter and runs the kernel as narrow tasks; the in-process serving
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
    if "dls" not in index.postings.columns:
        # pre-inline-norms index layout: no dl stream in the blocks —
        # fall back to the exhaustive executor (which would need the
        # legacy docs join this engine no longer carries on the fast
        # path).  Checked BEFORE any dictionary/expansion job so the
        # fallback costs zero Spark work.
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
