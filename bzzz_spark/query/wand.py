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
per query shape (_SHAPES: _any_topk, _term_topk, _and_topk,
_maxscore_topk) and returns the per-segment top-k concatenated as one
(docid, score) frame.  The shapes take lists of clauses (_Clause: a
term, a constant-score set, a required group or a phrase), each
resolved from the query once per plan and combined without asking its
kind, as Lucene's conjunction, ReqOptSum and WAND scorers combine child
Scorers.  A clause owns its term ids, its weight, its stats key, its
upper bound on a segment and its matcher (_Match): the docids and
contributions of its matches among sorted candidates, decoding only
the blocks that overlap them (blocks.overlapping), each block once per
segment (phrase legs through phrase.phrase_arrays).  Every decode is
counted by one stats recorder (blocks.tally); pandas appears only at
entry and exit.  A term's bound on a block is its weight w = idf ·
boost times the block's max_tfc, derived at query time from the
block's stored (tf, dl) impacts (blocks.impacts_max_tfc), so a live
streaming index, whose N and avgdl move with every micro-batch, prunes
as safely as a built one.  Every
pruning bound is rounded up (_up), so no bound sits below a score it
bounds (tests/test_clause_bounds.py checks every clause kind).

Pruning by query shape (all results EXACT — pruning never changes them;
tests cross-check against the exhaustive plan and the oracle):

- single term: a doc's whole score lives in one block, so blocks run
  in descending bound order (_by_bound, as a conjunction's term lead)
  and stop once the kth-best score exceeds the next block's max.
- conjunction (AND) of clauses of any kind: block-granular leapfrog —
  the clause with the fewest postings in the segment leads; every other
  clause's blocks are skipped entirely unless their [first_docid,
  last_docid] range intersects a candidate.  A term lead prunes with
  a block-max bound: its blocks run in descending bound order, and
  the rest are skipped once their max score + the other clauses'
  bounds < the current kth best of full matches.  A set, group or
  phrase lead matches whole.
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

A Filtered is served as its rewrite.normalize lowering, Bool(must=[q,
f@boost=0]): the filter arm is an unscored conjunct.  Every other shape
(nesting, negative boosts, match-all, ranges without doc-values,
no-norm, random and custom scores) gets the exhaustive plan
of bzzz_spark.query.evaluate, a KernelPlan too: both runtimes run it as
they run these kernels, with no pruning.
"""

from __future__ import annotations

from dataclasses import dataclass, field as _dc_field
from dataclasses import replace as _dc_replace
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
from bzzz_spark.query.rewrite import normalize
from bzzz_spark.query.scoring import idf as idf_fn
from bzzz_spark.query.scoring import tf_component_np


@dataclass
class FlatShape:
    """A query shape the block-max kernels can serve directly.

    terms:   (value, field, boost, scored) — scored=False for
             filter-arm conjuncts (a boost-0 conjunct, as
             rewrite.normalize lowers a Filtered's filter: intersect,
             contribute 0).  Scored terms must target the text field
             (kernel scoring uses the text index's norms); UNSCORED
             membership (filter arms, must_not) may target any indexed
             field via its '<field>:<token>' dictionary key.
    phrases: (term_values, slop, boost, scored) — phrase clauses:
             and-mode conjuncts, or or/dismax-mode clauses, bounded by
             the loose-but-sound w_p*(k1+1) and matched by
             phrase.phrase_arrays.
    ranges:  (Range, contrib) — contrib is the score the predicate adds
             per match (node.boost for Bool must-ranges, 0.0 for
             boost-0 filter ranges).
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
             same should list, evaluated by phrase.phrase_arrays
             restricted to the conjunction's survivors.
    groups:  (members, msm, scored) — REQUIRED disjunction groups in
             the must list ("(a OR b) AND (c OR d)" — the synonym-
             expansion shape): members is the inner Bool's should list
             as (value, field, boost) Term entries (duplicates kept:
             each entry scores and counts toward msm separately, the
             evaluator's semantics), msm its effective minimum-should-
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
    in-process serving path (bzzz_spark.serve.local) the same blocks
    from its footer-mapped parquet row groups (LocalIndex.fetch_blocks).
    empty=True marks queries proven empty at plan time
    (out-of-vocabulary must-terms, unsatisfiable minimum_should_match,
    zero-doc index).  The kernel is called as
    kernel(blocks, docs): docs holds docid and the doc_cols (None when
    there are none; kernel plans name none), which for the (column,
    CustomScore) pairs of custom only Spark computes (executor.plan_docs)."""

    kernel: object | None
    tids: tuple = ()
    empty: bool = False
    doc_cols: tuple = ()
    custom: tuple = ()


_EMPTY_PLAN = KernelPlan(None, (), empty=True)


def _run_plan(index: BzzzIndex, plan: KernelPlan) -> DataFrame:
    """Materialize a KernelPlan on the Spark runtime."""
    plans = {} if plan.empty else {"": plan}
    return run_plans(index, plans).select("docid", "score")


def run_plans(index: BzzzIndex, plans: dict) -> DataFrame:
    """Run non-empty KernelPlans ({query_id: plan}) in ONE read of the
    postings, filtered to the union of their term_ids → (query_id,
    docid, score), each query's per-segment top-k.  Every plan's kernel
    gets the rows of its own term_ids only, and when a plan names doc
    columns every kernel gets its segment's docs too: the postings are
    cogrouped with the docs on segment = docid // segment_size."""
    tids = sorted({int(t) for p in plans.values() for t in p.tids})
    blocks = index.postings.filter(F.col("term_id").isin(tids))
    specs = [(qid, np.asarray(p.tids, dtype=np.int64), p.kernel)
             for qid, p in plans.items()]
    schema = "query_id string, docid long, score double"

    def run(pdf: pd.DataFrame, docs: pd.DataFrame | None) -> pd.DataFrame:
        tid = pdf["term_id"].to_numpy()
        return pd.concat(
            [kernel(pdf[np.isin(tid, mine)], docs).assign(query_id=qid)
             for qid, mine, kernel in specs],
            ignore_index=True,
        )

    if any(p.doc_cols for p in plans.values()):
        from bzzz_spark.build.indexer import _segment_col
        from bzzz_spark.query.executor import plan_docs

        docs = plan_docs(index, plans.values()).withColumn(
            "__segment", _segment_col(index.config))
        return blocks.groupby("segment").cogroup(
            docs.groupby("__segment")).applyInPandas(run, schema)
    if getattr(index, "segment_aligned", False):
        # serving layout: postings are already hash-partitioned by
        # segment (BzzzIndex.persist()), so the kernels
        # run as a NARROW mapInPandas — zero per-query shuffle, the
        # single biggest chunk of Spark's fixed query latency.  Each
        # kernel splits the partition's blocks by segment itself.
        def run_part(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts = [p for p in it if len(p)]
            if parts:
                yield run(pd.concat(parts, ignore_index=True), None)

        return blocks.mapInPandas(run_part, schema)
    # the ONLY shuffle: the queries' (small) block set, grouped by
    # segment
    return blocks.groupby("segment").applyInPandas(
        lambda pdf: run(pdf, None), schema)


def _flat_conjuncts(nodes, scored: bool):
    """Term/Range/Phrase/Wildcard/Fuzzy/group-Bool nodes → FlatShape
    component lists, or None if any node is out of kernel scope.

    A boost-0 conjunct contributes exactly 0 score, so it is classified
    as UNSCORED membership regardless of `scored` — this is how the
    rewrite pass's Filtered → Bool(must=[q, f@boost=0]) lowering keeps
    field-scoped filter arms on the kernel (unscored membership needs
    no norms and may target any indexed field; a scored=True zero-boost
    term would trip plan_candidates' text-field-only check).

    A should-only Bool of Terms is a REQUIRED disjunction group
    ("(a OR b) AND (c OR d)"): members are kept as an entry LIST so
    duplicate members each score and count toward the group's msm, the
    evaluator's semantics.  Groups whose msm cannot be satisfied, and
    any other inner shape, fall back."""
    terms, phrases, ranges, multis, groups = [], [], [], [], []
    for q in nodes:
        if not getattr(q, "boost", -1.0) >= 0:
            return None  # a negative boost, or a node without one
        s = scored and q.boost != 0.0
        if isinstance(q, ast.Term):
            terms.append((q.value, q.field_name, q.boost, s))
        elif isinstance(q, ast.Range):
            ranges.append((q, q.boost if s else 0.0))
        elif isinstance(q, ast.Phrase):
            phrases.append((tuple(q.terms), q.slop, q.boost, s))
        elif isinstance(q, (ast.Wildcard, ast.Fuzzy)):
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


def _shoulds(nodes, scale: float = 1.0):
    """Should (or dis-max) clauses → (terms (value, field, boost),
    phrases (term_values, slop, boost), Wildcard/Fuzzy nodes), each
    boost times ``scale``, or None when a clause is out of kernel scope
    (another kind, a negative boost) or a phrase repeats (the evaluator
    counts each occurrence toward msm; the kernel cannot).  A pattern is
    a constant-score term set (Lucene CONSTANT_SCORE_REWRITE): matching
    ANY expansion adds its boost and counts 1 toward msm, so duplicates
    are naturally correct.  A scaled pattern is a copy: never mutate the
    caller's AST."""
    terms, phrases, multis = [], [], []
    for q in nodes:
        if not getattr(q, "boost", -1.0) >= 0:
            return None
        b = q.boost if scale == 1.0 else q.boost * scale
        if isinstance(q, ast.Term):
            terms.append((q.value, q.field_name, b))
        elif isinstance(q, ast.Phrase):
            phrases.append((tuple(q.terms), q.slop, b))
        elif isinstance(q, (ast.Wildcard, ast.Fuzzy)):
            multis.append(q if scale == 1.0 else _dc_replace(q, boost=b))
        else:
            return None
    if len({(t, s) for t, s, _b in phrases}) != len(phrases):
        return None
    return terms, phrases, multis


def _unique_terms(terms) -> bool:
    return len({(v, f) for v, f, *_ in terms}) == len(terms)


def classify(node: ast.Query) -> FlatShape | None:
    """FlatShape for kernel-servable shapes, else None (the exhaustive
    plan).  Servable: Term; a Bool whose must holds Terms, Ranges,
    Phrases, Wildcard/Fuzzy sets and Term groups, whose should holds
    Terms, Phrases and sets, and whose must_not holds Terms and sets;
    DisMax over should-like clauses; a Filtered as its
    rewrite.normalize lowering Bool(must=[q, f@boost=0]), the one
    Filtered lowering of the engine (boost-0 conjuncts intersect
    without scoring — Lucene's FILTER clause), or None when normalize
    keeps the Filtered.  Exclusions ride the kernel: Lucene's
    ReqExclScorer is the same per-leaf advance-and-skip.

    Negative boosts fall back: w · max_tfc bounds assume
    non-negative term weights (for w < 0 the block 'max' is a LOWER
    bound and θ-pruning would drop true top-k docs); Lucene itself
    rejects boost < 0 since 7.0 — the exhaustive plan serves them.
    Doc-value ranges apply at the first conjunct decode that sees dv
    streams: a term conjunct, a set conjunct (every member posting of
    a doc inlines the same value, so the row mask before the union is
    exact), or a group conjunct (mask per member decode, before the
    msm gate).  When the ONLY conjuncts are phrases, plan_candidates
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
        # must_not set IS Lucene's rewritten BooleanQuery exclusion)
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
            # drives candidates, optional clauses add score where they
            # match and opt_msm of them must match.  Duplicate should
            # terms fall back, like duplicate phrases
            opts, opt_phr, opt_mul = [], [], []
            if node.should:
                got = _shoulds(node.should)
                if got is None or not _unique_terms(got[0]):
                    return None
                opts, opt_phr, opt_mul = got
                if node.effective_msm() > len(node.should):
                    return None  # unsatisfiable — the evaluator returns empty
            return FlatShape("and", terms, phrases, len(terms), neg,
                             ranges, multis, opts,
                             node.effective_msm() if node.should else 0,
                             opt_phrases=opt_phr,
                             neg_multis=neg_multis,
                             opt_multis=[(q, q.boost) for q in opt_mul],
                             groups=groups)
        if node.should and not node.must:
            # pure disjunction over Terms, Phrases and/or Wildcard/Fuzzy
            # clauses: MaxScore with phrases as pseudo-terms (bounded by
            # w_p*(k1+1) — a phrase block carries no positional upper
            # bound, so the bound is loose but sound) and multi-term
            # clauses as constant-score term SETS bounded by their boost
            got = _shoulds(node.should)
            if got is None:
                return None
            sterms, sphr, smul = got
            return FlatShape(
                "or", [(*t, True) for t in sterms],
                [(*p, True) for p in sphr], node.effective_msm(), neg, [],
                multis=[(q, True) for q in smul], neg_multis=neg_multis,
            )
        return None
    if isinstance(node, ast.DisMax):
        # dis-max (Q11): score = max + tie*(sum - max)
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
        got = _shoulds(node.queries, node.boost)
        if got is None or not _unique_terms(got[0]):
            return None
        dterms, dphr, dmul = got
        return FlatShape(
            "dismax",
            [(*t, True) for t in dterms],
            [(*p, True) for p in dphr],
            msm=1,
            tie=float(node.tie_breaker),
            multis=[(q, True) for q in dmul],
        )
    if isinstance(node, ast.Filtered):
        low = normalize(node)  # the one Filtered lowering
        return None if isinstance(low, ast.Filtered) else classify(low)
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


def _find(d: np.ndarray, x: np.ndarray) -> tuple:
    """Positions of ``x`` in the sorted ``d``, and where they hit."""
    pos = np.searchsorted(d, x)
    if d.size == 0:
        return pos, np.zeros(x.size, dtype=bool)
    return pos, d[np.minimum(pos, d.size - 1)] == x


class _Clause:
    """One clause of a planned query, of one of four kinds.  The shape
    functions combine clauses without asking which kind each is, as
    Lucene's conjunction, ReqOptSum and WAND scorers combine child
    Scorers; the kind is read only here, in _Match and in _make_kernel.

    - "term": tids is (term_id,), w = idf · boost.
    - "set": a constant-score term set — an expanded Wildcard/Fuzzy
      (Lucene CONSTANT_SCORE_REWRITE), the members of a top-level
      constant score, or a query's must_not terms.  A doc matches when
      ANY member term holds it, and scores w.
    - "group": a required disjunction ("(a OR b) AND (c OR d)").  tids
      are its entries (duplicates each score and count) and w their
      weights; a doc must match >= msm entries.
    - "phrase": tids are the legs in order, w = Σ idf(leg) · boost
      (Lucene PhraseWeight), matched by phrase.phrase_arrays.

    A weight of 0 marks an unscored clause (a filter arm).  msm is the
    number of its terms a segment must hold for the clause to match
    there (1; a group's msm; all of a phrase's legs).  key names the
    clause's blocks in the kernel stats (_make_kernel sets it)."""

    __slots__ = ("kind", "tids", "ids", "w", "msm", "slop", "key")

    def __init__(self, kind: str, tids, w, msm: int = 1, slop: int = 0):
        self.kind, self.w, self.msm, self.slop = kind, w, msm, slop
        self.tids = tuple(int(t) for t in tids)
        self.ids = np.array(self.tids, dtype=np.int64)
        self.key = None

    @classmethod
    def phrase(cls, legs, slop: int, w: float) -> "_Clause":
        return cls("phrase", legs, w, msm=len(legs), slop=slop)

    @classmethod
    def group(cls, entries, msm: int) -> "_Clause":
        return cls("group", [t for t, _w in entries],
                   tuple(w for _t, w in entries), msm=msm)

    @classmethod
    def resolve(cls, kind: str, e, scored: bool, meta: dict, exps: dict,
                key, n_docs: int) -> "_Clause | None":
        """A FlatShape entry of this kind as a clause, or None when it
        matches nothing in the vocabulary: an out-of-vocabulary term or
        phrase leg, a pattern without expansions, a group with fewer
        in-vocabulary entries than its msm.  ``meta`` maps dictionary
        keys to (term_id, df), ``exps`` pattern keys to expansions, and
        ``key(field, value)`` gives a term's dictionary key."""
        if kind == "term":
            got = meta.get(key(e[1], e[0]))
            if got is None:
                return None
            return cls("term", got[:1],
                       idf_fn(n_docs, got[1]) * e[2] if scored else 0.0)
        if kind == "phrase":
            # legs are text-field tokens: plan_candidates serves no other
            legs = [meta.get(t) for t in e[0]]
            if any(g is None for g in legs):
                return None
            w = sum(idf_fn(n_docs, g[1]) for g in legs) * e[2] if scored \
                else 0.0
            return cls.phrase([g[0] for g in legs], e[1], w)
        if kind == "group":
            members = [(meta.get(key(f, v)), b) for v, f, b in e[0]]
            entries = [(g[0], idf_fn(n_docs, g[1]) * b if scored else 0.0)
                       for g, b in members if g is not None]
            return cls.group(entries, int(e[1])) \
                if len(entries) >= e[1] else None
        # a set: a pattern's expansion, or a constant score's Terms
        node = e[0] if isinstance(e, tuple) else e
        keys = (exps[_mt_key(node)]
                if isinstance(node, (ast.Wildcard, ast.Fuzzy))
                else [key(n.field_name, n.value) for n in ast.iter_nodes(node)
                      if isinstance(n, ast.Term)])
        tids = sorted({int(meta[t][0]) for t in keys if t in meta})
        if not tids:
            return None
        return cls("set", tids, float(node.boost) if scored else 0.0)

    def keyed(self, i: int, optional: bool) -> None:
        """Set the stats key: the clause is the i-th of its kind among
        the required (or the optional) clauses."""
        self.key = {
            "term": f"opt:{self.tids[0]}" if optional else self.tids[0],
            "set": f"optset:{i}" if optional else f"set:{i}",
            "group": f"grp:{i}",
            "phrase": None,  # phrase_arrays counts per leg term
        }[self.kind]

    @property
    def streams(self) -> bool:
        """Whether its decode reads the blocks' dv streams (the
        positional phrase kernel reads none)."""
        return self.kind != "phrase"

    def present(self, b: Blocks) -> bool:
        """Whether segment b holds enough of its terms to match."""
        lo = np.searchsorted(b.term_id, self.ids, "left")
        hi = np.searchsorted(b.term_id, self.ids, "right")
        return int(np.count_nonzero(hi > lo)) >= self.msm

    def bound(self, b: Blocks) -> float:
        """An upper bound on one doc's contribution on segment b, where
        the clause is present (pruning adds _up): w · the block max_tfc
        for a term and per entry of a group, the constant of a set, and
        w · (k1 + 1) for a phrase, the supremum of the tf component (a
        phrase block carries no positional bound: loose but sound)."""
        if self.kind == "set":
            return float(self.w)
        if self.kind == "phrase":
            return self.w * (BM25_K1 + 1.0)
        ws = (self.w,) if self.kind == "term" else self.w
        return sum(w * float(b.max_tfc[r].max())
                   for t, w in zip(self.tids, ws) if (r := b.rows(t)).size)


class _Match:
    """A clause on one segment.  Its blocks (ascending first_docid) are
    decoded only where they overlap the candidates of a match call, each
    block once; what is decoded accumulates in one docid-sorted store (a
    phrase's, per block, in phrase_arrays' cache).  Opening counts the
    clause's blocks in the stats' total_blocks (a phrase's per leg
    term, as phrase_arrays counts their decodes)."""

    def __init__(self, q: "_Spec", c: _Clause, b: Blocks):
        self.q, self.c, self.b = q, c, b
        if c.kind == "phrase":
            self.cache: dict = {}  # row -> its decoded streams
            self.legs = {t: b.rows(t) for t in c.tids}
            for t, rows in self.legs.items():
                tally(q.stats, "total_blocks", t, rows.size)
            return
        self.rows = b.rows(c.tids[0]) if c.kind == "term" else b.rows_of(c.ids)
        self.done = np.zeros(b.term_id.size, dtype=bool)
        self.d = self.tf = self.dl = self.own = np.empty(0, dtype=np.int64)
        tally(q.stats, "total_blocks", c.key, self.rows.size)

    def size(self) -> int:
        """Its posting count here, the order in which a conjunction
        meets its clauses: a phrase's rarest leg, else the sum over its
        blocks."""
        if self.c.kind == "phrase":
            return min(int(self.b.count[r].sum()) for r in self.legs.values())
        return int(self.b.count[self.rows].sum())

    def lead(self, theta: "_Theta", rest: float, dv: bool):
        """Its matches as a conjunction's lead: docid-sorted chunks of
        (docids, contributions).  A term's blocks come by descending
        bound w · max_tfc + ``rest`` (rest bounds the other clauses)
        until θ passes it (_by_bound); any other kind is one chunk, its
        whole match.  With ``dv`` the range predicates mask its decode."""
        q, c, b = self.q, self.c, self.b
        if c.kind != "term":
            got = self.match(None, dv)
            if got is not None:
                yield got
            return
        for rows in _by_bound(b, self.rows, c.w, rest, theta):
            dec = decode(b, rows, dv=q.dv_want if dv else ())
            tally(q.stats, "decoded_blocks", c.key, rows.size)
            o = np.argsort(dec.d, kind="stable")  # blocks in bound order
            if dv:
                o = o[_dv_mask(q.ranges, {f: v[o] for f, v in dec.dv.items()})]
            yield dec.d[o], c.w * _tfc(q, dec.tf[o], dec.dl[o])

    def match(self, cand: np.ndarray | None = None, dv: bool = False):
        """(docids, contributions) of its matches among the sorted
        ``cand`` (all of them when None), docids sorted and unique, or
        None when no block here overlaps ``cand``.  With ``dv`` the
        query's range predicates mask the rows this call decodes: a
        doc's dv value is the same in every member posting, so masking
        rows before a union or an msm count removes exactly the
        out-of-range docs."""
        q, c = self.q, self.c
        if c.kind == "phrase":
            got = phrase_arrays(self.b, list(c.tids), c.slop, q.stats, cand,
                                self.cache)
            return None if got is None else (
                got[0], c.w * _tfc(q, got[1], got[2]))
        need = self.rows if cand is None else overlapping(self.b, self.rows,
                                                          cand)
        if need.size == 0:
            return None
        miss = need[~self.done[need]]
        if miss.size:
            self._decode(miss, dv)
        d = self.d
        if c.kind == "term":
            if cand is None:
                return d, c.w * _tfc(q, self.tf, self.dl)
            pos, hit = _find(d, cand)
            pos = pos[hit]
            return cand[hit], c.w * _tfc(q, self.tf[pos], self.dl[pos])
        if c.kind == "set":
            u = np.unique(d) if cand is None else cand[_find(d, cand)[1]]
            return u, np.full(u.size, float(c.w))
        tf, dl, own = self.tf, self.dl, self.own
        if cand is not None:
            keep = _find(cand, d)[1]
            d, tf, dl, own = d[keep], tf[keep], dl[keep], own[keep]
        u = np.unique(d)  # several terms: one row per docid
        gscore = np.zeros(u.size)
        gcnt = np.zeros(u.size, dtype=np.int32)
        for tid, w in zip(c.tids, c.w):
            m = own == tid
            idx = np.searchsorted(u, d[m])
            gcnt[idx] += 1
            if w != 0.0:
                gscore[idx] += w * _tfc(q, tf[m], dl[m])
        gm = gcnt >= c.msm
        return u[gm], gscore[gm]

    def _decode(self, rows: np.ndarray, dv: bool) -> None:
        q, b, kind = self.q, self.b, self.c.kind
        self.done[rows] = True
        tally(q.stats, "decoded_blocks", self.c.key, rows.size)
        dec = decode(b, rows, dl=kind != "set", dv=q.dv_want if dv else ())
        keep = _dv_mask(q.ranges, dec.dv) if dv else slice(None)
        d, tf = dec.d[keep], dec.tf[keep]
        dl = d if dec.dl is None else dec.dl[keep]
        own = (np.repeat(b.term_id[rows], b.count[rows])[keep]
               if kind == "group" else d)
        if kind == "term" and self.d.size == 0:
            # one term's blocks in row order hold ascending docids
            self.d, self.tf, self.dl, self.own = d, tf, dl, own
            return
        d = np.concatenate((self.d, d))
        o = np.argsort(d, kind="stable")  # merges sorted runs
        self.d = d[o]
        self.tf = np.concatenate((self.tf, tf))[o]
        self.dl = np.concatenate((self.dl, dl))[o]
        self.own = np.concatenate((self.own, own))[o]


@dataclass
class _Spec:
    """One planned query as the shape functions read it.

    req: the required clauses of a conjunction, or the clauses of a
    disjunction, in the order the shape sums them (terms, phrases,
    sets, groups); modes "term" and "any" read one clause, req[0] (a
    term; a set).  opt (and-mode): the OPTIONAL should clauses (Lucene
    ReqOptSumScorer), summed as sets, terms, phrases.  They never admit
    candidates, decode only where they overlap the conjunction's
    survivors, add their score where they match, and opt_msm of them
    must match; their bounds widen θ's pruning bound.  neg: the must_not
    terms as one set (Lucene ReqExclScorer), or None — decoded ONLY
    where a block intersects a surviving candidate, so "x AND NOT the"
    decodes just the blocks of "the" overlapping x's candidates.

    ranges (and-mode): (ast.Range, contrib) predicates over inlined
    doc-value columns, evaluated on the first conjunct decode that
    carries the dv streams; contrib is the score a match adds (the
    Range's boost under Bool(must), 0.0 for a filter arm).

    Document lengths come from the blocks' inline dls stream (0 →
    avgdl, the norms-disabled sentinel) and a term's block bound is
    w × max_tfc at ``avgdl``, so the kernel needs no side input."""

    mode: str
    msm: int
    k: int
    avgdl: float
    stats: dict | None
    ranges: list
    tie: float
    opt_msm: int
    req: list
    opt: list
    neg: _Clause | None

    def __post_init__(self):
        self.range_boost = float(sum(c for _r, c in self.ranges))
        self.dv_want = tuple(
            dict.fromkeys(r.field_name for r, _c in self.ranges)
        )


def _tfc(q: _Spec, tf: np.ndarray, dl: np.ndarray) -> np.ndarray:
    """BM25 tf component of decoded streams (dl 0 scores as avgdl)."""
    return tf_component_np(tf, dl, q.avgdl)


def _dv_mask(ranges, dvv: dict) -> np.ndarray:
    """Row mask of the (Range, contrib) predicates over their fields'
    values: decoded dv streams (one value per posting; a doc's value is
    the same in every term's stream, so masking rows masks docs), or
    the exhaustive evaluator's docs columns (NaN, a NULL, never matches)."""
    m = np.ones(next(iter(dvv.values())).size, dtype=bool)
    for rg, _c in ranges:
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


class _Excluder:
    """must_not terms (Lucene ReqExclScorer) over one segment."""

    def __init__(self, q: _Spec, b: Blocks):
        self.on = _Match(q, q.neg, b) if q.neg is not None else None

    def keep(self, d: np.ndarray) -> np.ndarray:
        """Mask over sorted docids: True where no must_not term matches."""
        keep = np.ones(d.size, dtype=bool)
        got = self.on.match(d) if self.on and d.size else None
        if got is not None:
            keep[np.searchsorted(d, got[0])] = False
        return keep


class _Optionals:
    """The optional should clauses of a conjunction over one segment:
    those present here, their summed upper bound and whether opt_msm
    can still be met."""

    def __init__(self, q: _Spec, b: Blocks):
        self.q = q
        self.on = [_Match(q, c, b) for c in q.opt if c.present(b)]
        self.ub = sum(m.c.bound(b) for m in self.on)
        self.feasible = q.opt_msm <= len(self.on)

    def add(self, cand: np.ndarray, acc: np.ndarray) -> tuple:
        """Add matching optional clauses' scores to the sorted surviving
        candidates (``acc`` must be a fresh array: it is added to in
        place), then apply the minimum-should-match cut."""
        if cand.size == 0 or not self.on:
            return cand, acc
        ocnt = np.zeros(cand.size, dtype=np.int32)
        for m in self.on:
            got = m.match(cand)
            if got is not None:
                idx = np.searchsorted(cand, got[0])  # got[0] ⊆ cand
                acc[idx] += got[1]
                ocnt[idx] += 1
        if self.q.opt_msm > 0:
            m = ocnt >= self.q.opt_msm
            return cand[m], acc[m]
        return cand, acc


def _narrow(parts: dict, cand: np.ndarray, d: np.ndarray) -> dict:
    """Per-clause scores of the sorted ``cand`` cut to its subset ``d``."""
    idx = np.searchsorted(cand, d)
    return {c: v[idx] for c, v in parts.items()}


def _by_bound(b: Blocks, rows: np.ndarray, w: float, rest: float,
              theta: _Theta) -> Iterator[np.ndarray]:
    """One term's block rows by descending bound w · max_tfc + ``rest``,
    in _chunks, up to the first chunk bound strictly below θ (pushed by
    the caller): a block whose bound EQUALS θ can still hold a score-tied
    doc with a smaller docid (boost=0 makes every score 0)."""
    rows = rows[np.argsort(-b.max_tfc[rows], kind="stable")]
    bounds = _up(w * b.max_tfc[rows] + rest)
    for sl in _chunks(rows.size):
        if bounds[sl.start] < theta.value:
            return
        yield rows[sl]


def _any_topk(q: _Spec, b: Blocks):
    """Constant-score match-any: the k smallest docids matching the set
    q.req[0].  Blocks ascend by first_docid; once the kth-smallest docid
    found so far precedes the next block's range, no later block can
    contribute."""
    c = q.req[0]
    rows = b.rows_of(c.tids)
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
    return got, np.full(got.size, float(c.w))


def _term_topk(q: _Spec, b: Blocks):
    """Single-term block-max top-k of the term q.req[0]: blocks by
    descending bound (_by_bound), stopping once the kth best so far
    beats the next block's bound.  Exact: a doc's whole score lives in
    exactly one block."""
    c = q.req[0]
    rows = b.rows(c.tids[0])
    if rows.size == 0:
        return None
    tally(q.stats, "total_blocks", c.key, rows.size)
    theta = _Theta(q.k)
    out_d, out_s = [], []
    for r in _by_bound(b, rows, c.w, 0.0, theta):
        dec = decode(b, r)
        tally(q.stats, "decoded_blocks", c.key, r.size)
        out_d.append(dec.d)
        out_s.append(c.w * _tfc(q, dec.tf, dec.dl))
        theta.push(out_s[-1])
    return _topk(np.concatenate(out_d), np.concatenate(out_s), q.k)


def _and_topk(q: _Spec, b: Blocks):
    """Conjunction of clauses of any kind (Lucene's ConjunctionScorer,
    block-at-a-time).  The clause with the fewest postings here leads,
    in chunks (_Match.lead: a term's stop once θ passes their bound
    plus the other and optional clauses' bounds).  The others, by
    ascending size, decode only blocks overlapping a chunk's survivors,
    each block once.  The dv range mask rides the first decode that
    carries dv streams.  Scores sum in clause order whatever the
    per-segment order, so equal docs tie exactly."""
    if not all(c.present(b) for c in q.req):
        return None  # a conjunct cannot match in this segment
    opt = _Optionals(q, b)
    if not opt.feasible:
        return None
    excl = _Excluder(q, b)
    ms = [_Match(q, c, b) for c in q.req]
    lead, *others = sorted(ms, key=_Match.size)
    rest = sum(m.c.bound(b) for m in others) + q.range_boost + opt.ub
    theta = _Theta(q.k)
    out_d, out_s = [], []
    for d, s in lead.lead(theta, rest, bool(q.ranges)):
        parts, dv = {lead: s}, bool(q.ranges) and not lead.c.streams
        for m in others:
            got = m.match(d, dv) if d.size else None
            dv = dv and not m.c.streams
            if got is None:
                d = d[:0]
                break
            parts = _narrow(parts, d, got[0])
            d, parts[m] = got
        if d.size == 0:
            continue
        acc = sum(parts[m] for m in ms) + q.range_boost
        km = excl.keep(d)
        d, acc = opt.add(d[km], acc[km])
        if d.size:
            out_d.append(d)
            out_s.append(acc)
            theta.push(acc)
    if not out_d:
        return None
    return _topk(np.concatenate(out_d), np.concatenate(out_s), q.k)


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
    (1-tie)*max(mx, UB_next) + tie*(acc + suffix_next).  Final scores
    are re-summed in clause order, so equal docs tie exactly whatever
    each segment's bound order."""
    dismax, tie = q.mode == "dismax", q.tie
    clauses = [_Match(q, c, b) for c in q.req if c.present(b)]
    if not clauses:
        return None
    ub = [m.c.bound(b) for m in clauses]
    order = sorted(range(len(clauses)), key=lambda i: -ub[i])
    ubs = np.array([ub[i] for i in order])
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
        closed = closed or admit[i] < theta  # no NEW doc can reach top-k
        cand = None
        if closed:
            cand = docs[~excl & ~dead]
            if cand.size == 0:
                break
        got = clauses[ci].match(cand)
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
        if not closed and excluder.on is not None:
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


# The shape function of each FlatShape mode ("any": a constant set).
_SHAPES = {"any": _any_topk, "term": _term_topk, "and": _and_topk,
           "or": _maxscore_topk, "dismax": _maxscore_topk}


def _make_kernel(qmeta: dict, mode: str, msm: int, k: int, avgdl: float,
                 neg_tids: list[int] | None = None,
                 ranges: list | None = None, stats: dict | None = None,
                 phrases: list | None = None,
                 termsets: list | None = None,
                 opts: dict | None = None, opt_msm: int = 0,
                 tie: float = 0.0,
                 opt_phrases: list | None = None,
                 opt_sets: list | None = None,
                 groups: list | None = None,
                 req: list = (), opt: list = ()):
    """The block-max kernel of one planned query: blocks_pdf → one
    (docid, score) frame holding each segment's top-k, concatenated.
    The block frame becomes an array block set once (query.blocks);
    each segment's slice then runs the shape function of ``mode``
    (_SHAPES), a small function over the clauses.

    The clauses are built here, once per plan.  ``req`` and ``opt`` are
    clauses plan_candidates resolved; direct callers may give them by
    kind instead, in the planner's sum order: required terms ``qmeta``
    (term_id -> (weight, boost); for mode "any", the set's members ->
    (0, boost)), ``phrases`` (leg_tids, slop, weight), ``termsets``
    (member_tids, contrib) and ``groups`` ((tid, weight) entries, msm),
    then optional ``opt_sets``, ``opts`` and ``opt_phrases``.
    ``neg_tids`` are the must_not terms.  The rest is documented on
    _Spec; ``stats`` accumulates {"total_blocks": {key: n},
    "decoded_blocks": {key: n}} (scalars for mode "any") across
    segments, keyed by _Clause.key."""
    if mode == "any" and qmeta:
        head = [_Clause("set", qmeta, float(next(iter(qmeta.values()))[1]))]
    else:
        head = [_Clause("term", (t,), w) for t, (w, _b) in qmeta.items()]
    req = (head
           + [_Clause.phrase(*p) for p in phrases or ()]
           + [_Clause("set", *s) for s in termsets or ()]
           + [_Clause.group(*g) for g in groups or ()] + list(req))
    opt = ([_Clause("set", *s) for s in opt_sets or ()]
           + [_Clause("term", (t,), w) for t, (w, _b) in (opts or {}).items()]
           + [_Clause.phrase(*p) for p in opt_phrases or ()] + list(opt))
    for clauses, optional in ((req, False), (opt, True)):
        seen: dict = {}
        for c in clauses:
            seen[c.kind] = seen.get(c.kind, -1) + 1
            c.keyed(seen[c.kind], optional)
    neg = _Clause("set", neg_tids, 0.0) if neg_tids else None
    if neg is not None:
        neg.key = "neg"
    q = _Spec(mode, msm, k, avgdl, stats, list(ranges or []), tie, opt_msm,
              req, opt, neg)
    shape = _SHAPES[mode]

    def kernel(blocks: pd.DataFrame, docs=None) -> pd.DataFrame:
        got = []  # a kernel reads no docs (KernelPlan.doc_cols is empty)
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


def _mt_key(p) -> tuple:
    if isinstance(p, ast.Wildcard):
        return ("w", p.field_name, p.value, p.max_expansion)
    return (
        "f", p.field_name, p.value, p.max_edits, p.prefix_len,
        p.max_expansion, p.transpositions,
    )


def _expand_scoped_many(index: BzzzIndex, nodes: list) -> list[list[str]]:
    """Wildcard/Fuzzy patterns → their exact dictionary expansions in
    ONE dictionary job (executor.expand_multiterm owns the semantics:
    per-pattern exact match, max_expansion capped by (df desc, term
    asc), field-scoped key spaces), memoized per index on the pattern's
    full option key."""
    from bzzz_spark.query.executor import _pattern_prefix, expand_multiterm

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


def lookup(index, nodes) -> tuple[dict, dict]:
    """Every term, phrase leg and Wildcard/Fuzzy pattern of the query
    trees in one dictionary lookup and one expansion job (both memoized
    per index): ({key: (term_id, df)} for the keys present, {pattern
    key: its expansion})."""
    from bzzz_spark.query.executor import term_key

    keys, patterns = set(), []
    for n in (n for node in nodes for n in ast.iter_nodes(node)):
        if isinstance(n, ast.Term):
            keys.add(term_key(index, n.field_name, n.value))
        elif isinstance(n, ast.Phrase):
            keys.update(term_key(index, n.field_name, t) for t in n.terms)
        elif isinstance(n, (ast.Wildcard, ast.Fuzzy)):
            patterns.append(n)
    exps = _expand_scoped_many(index, patterns) if patterns else []
    keys.update(t for e in exps for t in e)
    meta = index.lookup_terms(sorted(keys)) if keys else {}
    return meta, {_mt_key(p): e for p, e in zip(patterns, exps)}


def _constant_set(node: ast.Query) -> bool:
    """Whether a top-level node is one constant-score term set: a
    Wildcard/Fuzzy (Lucene CONSTANT_SCORE_REWRITE), or a ConstantScore
    over a Term or a should-only Bool of Terms (effective msm <= 1).
    Every match scores the node's boost, so the 'any' kernel's top-k is
    the k smallest matching docids and it stops decoding once k docids
    precede every remaining block: a filter-context head term ("give me
    ANY k docs containing X") decodes O(k) docids instead of the term's
    full postings.  Needs no norms, so any indexed field serves."""
    if isinstance(node, (ast.Wildcard, ast.Fuzzy)):
        return True
    if not isinstance(node, ast.ConstantScore):
        return False
    inner = node.query
    return isinstance(inner, ast.Term) or (
        isinstance(inner, ast.Bool)
        and inner.should
        and not inner.must
        and not inner.must_not
        and inner.effective_msm() <= 1
        and all(isinstance(q, ast.Term) for q in inner.should)
    )


# A FlatShape's entry lists as clauses: (field, clause kind, role).
# Required and disjunctive clauses are listed as terms, phrases, sets,
# groups and optional ones as sets, terms, phrases: the orders in which
# the kernels sum them.  Role None is "req" in a conjunction and "or"
# in a disjunction.
_ENTRIES = (
    ("terms", "term", None), ("phrases", "phrase", None),
    ("multis", "set", None), ("groups", "group", "req"),
    ("opt_multis", "set", "opt"), ("opts", "term", "opt"),
    ("opt_phrases", "phrase", "opt"),
    ("neg", "term", "neg"), ("neg_multis", "set", "neg"),
)


def wand_candidates(
    index: BzzzIndex, node: ast.Query, k: int
) -> DataFrame | None:
    """Per-segment top-k (docid, score) for flat shapes, else None.
    The one entry that takes a raw AST, so it validates the fields: a
    Wildcard on an unindexed field must raise here as on every other
    path, not answer from the default text field."""
    from bzzz_spark.query.executor import validate_fields

    validate_fields(index, node)
    plan = plan_candidates(index, node, k)
    if plan is None:
        return None
    return _run_plan(index, plan)


def plan_candidates(
    index, node: ast.Query, k: int
) -> "KernelPlan | None":
    """Driver-side planning for the block-max kernel path: one
    dictionary lookup + kernel construction, NO postings work.  Returns
    None for shapes the kernels can't serve (→ the exhaustive plan), an
    empty-marked plan for provably-empty queries, else the kernel and
    the term_ids whose blocks it needs.  ``node`` is validated by the
    caller.  evaluate.plan, the planner of both runtimes, calls it: the
    Spark one runs plans through run_plans, one term_id-pruned postings
    read as narrow tasks; the in-process serving path
    (bzzz_spark.serve.local) fetches the same blocks from its parquet
    row groups and calls the kernel directly — zero Spark jobs, the
    deployment shape of the reference's long-lived in-process Lucene
    searcher (src/bzzz/index_directory.clj:129-132).

    Each FlatShape entry resolves into one _Clause (_Clause.resolve).
    An entry that matches nothing in the vocabulary empties the plan
    when it is required, and is dropped when it is optional,
    disjunctive or an exclusion: it then matches nothing, and an
    optional one stops counting toward minimum_should_match."""
    if isinstance(node, ast.Bool) and not node.must and not node.should:
        # only must_not clauses (or none) match nothing: Lucene's
        # prohibited-only BooleanQuery, the evaluator's empty answer
        return _EMPTY_PLAN
    if isinstance(node, ast.Phrase) and node.boost >= 0:
        # a bare phrase is the one kernel-family shape classify() only
        # accepts inside a conjunction; Bool(must=[phrase]) is
        # score-identical (the must-sum of one clause)
        node = ast.Bool(must=[node])
    from bzzz_spark.query.executor import term_key

    def key(f, v):
        return term_key(index, f, v)

    if _constant_set(node):
        meta, exps = lookup(index, [node])
        c = _Clause.resolve("set", (node, True), True, meta, exps, key, 0)
        if c is None:
            return _EMPTY_PLAN
        return KernelPlan(_make_kernel({}, "any", 1, k, 1.0, req=[c]), c.tids)
    shape = classify(node)
    if shape is None:
        return None
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
        # the fields as doc-values; otherwise the exhaustive plan reads
        # them from the docs
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
        # the exhaustive plan raises the loud store_positions error
        return None
    vals = [key(f, v) for v, f, _b, _s in shape.terms]
    if len(set(vals)) != len(vals):
        return None  # repeated terms: the exhaustive plan
    n_docs, avgdl = index.scalar_stats()
    if n_docs == 0 or avgdl == 0:
        return _EMPTY_PLAN
    meta, exps = lookup(index, [node])
    req, opt, neg = [], [], []
    into = {"req": req, "or": req, "opt": opt, "neg": neg}
    for name, kind, role in _ENTRIES:
        role = role or ("req" if shape.mode in ("term", "and") else "or")
        for e in getattr(shape, name):
            scored = role == "opt" or (role != "neg" and bool(e[-1]))
            c = _Clause.resolve(kind, e, scored, meta, exps, key, n_docs)
            if c is not None:
                into[role].append(c)
            elif role == "req":
                return _EMPTY_PLAN
    if not req or shape.opt_msm > len(opt):
        return _EMPTY_PLAN  # nothing can match, or msm cannot be met
    if shape.mode == "and" and shape.ranges and shape.phrases and not (
        shape.terms or shape.multis or shape.groups
    ):
        # phrase-ONLY conjunction + dv range ("\"stack trace\" AND
        # ts>X"): the positional kernel returns no dv streams, but every
        # match holds every leg, so the rarest leg, as an UNSCORED term
        # (weight 0), carries them without changing the match set.
        legs = {t for tids, *_ in shape.phrases for t in tids}
        carrier = min(legs, key=lambda t: (meta[t][1], t))
        req.insert(0, _Clause("term", (meta[carrier][0],), 0.0))
    # must_not terms absent from the dictionary exclude nothing; a term
    # that is both required and excluded stays in BOTH (the kernel then
    # scores and excludes it — "a AND NOT a" is naturally empty)
    neg_tids = sorted({t for c in neg for t in c.tids})
    kernel = _make_kernel({}, shape.mode, shape.msm, k, avgdl, neg_tids,
                          shape.ranges, opt_msm=shape.opt_msm,
                          tie=shape.tie, req=req, opt=opt)
    tids = {t for c in req + opt for t in c.tids} | set(neg_tids)
    return KernelPlan(kernel, tuple(sorted(tids)))


def wand_search(
    index: BzzzIndex, node: ast.Query, size: int = 20, page: int = 0
) -> DataFrame | None:
    """Top-k via the block-max path; None if the shape is unsupported."""
    cand = wand_candidates(index, node, page * size + size)
    return None if cand is None else top_page(cand, size, page)


def top_page(cand: DataFrame, size: int, page: int) -> DataFrame:
    """Rows [page*size, (page+1)*size) of the candidates in (score desc,
    docid asc) order — the merge of the per-segment top-k."""
    k = page * size + size
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
