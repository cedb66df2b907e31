"""Score-preserving query normalization — the Lucene ``Query.rewrite``
analog (reference: the query tree the JSON DSL parser emits is executed
as-is per src/bzzz/query.clj:31-48; Lucene itself normalizes
BooleanQuery nesting in BooleanQuery#rewrite before scoring).

Real query producers (the classic query parser, programmatic builders,
the implicit-AND of a multi-key JSON map) emit NESTED Bool trees whose
semantics are flat: ``Bool(must=[Bool(must=[a, b]), c])`` scores and
matches exactly like ``Bool(must=[a, b, c])``.  The block-max kernels
(:mod:`bzzz_spark.query.wand`) serve flat shapes only, so without
normalization a syntactically-nested-but-semantically-flat query pays
the exhaustive plan's full posting decode.  ``normalize`` folds
those trees bottom-up; every rule below is score-preserving under the
engine's pinned Bool semantics (score = Σ must + Σ matched should,
msm over should count, boost multiplies the sum — evaluate.py and the
pure-Python oracle agree), so the exhaustive plan, the kernel plan and
the oracle all return identical rows for the original and the
normalized tree.  Rules fire only when provably safe (inner boost 1.0,
msm not perturbed); anything else is left untouched.
"""

from __future__ import annotations

from dataclasses import replace as _dc_replace

from bzzz_spark.query import ast

# node types whose score scales linearly with their boost — setting
# boost=0 zeroes the score without changing the match set (a Filtered
# filter arm's contract), and scaling boost by c scales the score by c
# exactly (boost distribution into Bool/Filtered clauses).  Excludes
# RandomScore / NoZeroScore / NoNorm (no boost field of their own) and
# CustomScore (boost-linear in both modes, but excluded conservatively:
# rare as a filter arm or distribution target, and its doc-value
# expression keeps it off every kernel anyway).
_ZEROABLE = (ast.Term, ast.Range, ast.MatchAll, ast.Wildcard, ast.Fuzzy,
             ast.Phrase, ast.Bool, ast.DisMax, ast.ConstantScore,
             ast.Filtered)


def _scale(q: ast.Query, factor: float) -> ast.Query | None:
    """factor × q's score, folded into q's own boost.  None when q's
    score is not provably linear in its boost."""
    if isinstance(q, _ZEROABLE):
        return _dc_replace(q, boost=q.boost * factor)
    return None


def _merge_dup_terms(clauses: list, allow: bool) -> list:
    """Merge duplicate (value, field) Terms by summing boosts.

    Safe for MUST clauses always: BM25 is linear in boost, and a doc
    matching the term once matches every duplicate, so the m_cnt ==
    len(must) conjunction test is unchanged.  For SHOULD clauses the
    merge changes the per-doc matched-clause COUNT, so the caller only
    allows it when minimum_should_match cannot observe the difference
    (effective msm <= 1)."""
    if not allow:
        return clauses
    out: list = []
    pos: dict[tuple, int] = {}
    for q in clauses:
        if isinstance(q, ast.Term) and q.boost >= 0:
            key = (q.value, q.field_name)
            if key in pos:
                prev = out[pos[key]]
                out[pos[key]] = ast.Term(
                    q.value, q.field_name, prev.boost + q.boost
                )
                continue
            pos[key] = len(out)
        out.append(q)
    return out


def normalize(node: ast.Query) -> ast.Query:
    """Bottom-up score-preserving simplification.  Idempotent."""
    if isinstance(node, ast.Bool):
        must = [normalize(q) for q in node.must]
        must_not = [normalize(q) for q in node.must_not]
        should = [normalize(q) for q in node.should]

        # flatten must-children that are pure conjunctions: an inner
        # Bool(boost=1, should=[]) with must clauses contributes
        # Σ inner.must and requires all of them plus none of its
        # must_not — identical once lifted into the parent
        flat_must: list = []
        for q in must:
            if (
                isinstance(q, ast.Bool)
                and q.boost == 1.0
                and q.must
                and not q.should
                # msm > 0 with no should clauses is a semantic edge the
                # evaluator ignores but the strict oracle treats as
                # unmatchable — leave such trees alone
                and q.minimum_should_match == 0
            ):
                flat_must.extend(q.must)
                must_not.extend(q.must_not)
            else:
                flat_must.append(q)
        must = flat_must

        # flatten should-children that are pure disjunctions, when
        # neither side's minimum-should-match can observe the splice:
        # inner Bool(should-only, msm<=1) counts as ONE matched outer
        # clause iff >=1 of its members match — with outer msm<=1 that
        # is the same qualification as the spliced members, and the
        # score is the same Σ of matching members either way
        if node.effective_msm() <= 1:
            flat_should: list = []
            for q in should:
                if (
                    isinstance(q, ast.Bool)
                    and q.boost == 1.0
                    and q.should
                    and not q.must
                    and not q.must_not
                    and q.effective_msm() <= 1
                ):
                    flat_should.extend(q.should)
                else:
                    flat_should.append(q)
            should = flat_should

        # De Morgan splice for exclusions: NOT (a OR b) ≡ NOT a AND
        # NOT b, and must_not arms never SCORE, so an inner should-only
        # disjunction with effective msm <= 1 splices into the parent's
        # exclusion list regardless of its boost (unlike the scoring
        # should-flatten above, which must require boost 1).  An inner
        # Bool that can match NOTHING — only must_not clauses, the
        # Lucene all-prohibited-matches-no-docs rule the evaluator and
        # oracle share — excludes nothing and drops out.  Worklist
        # (not one-pass) so non-unit-boost disjunction members that
        # survived the scoring flatten still splice here: keeps
        # normalize idempotent.
        flat_not: list = []
        stack_not = list(must_not)
        while stack_not:
            q = stack_not.pop(0)
            if isinstance(q, ast.Bool) and not q.must:
                if q.should and not q.must_not and q.effective_msm() <= 1:
                    stack_not = list(q.should) + stack_not
                    continue
                if (
                    not q.should
                    and q.must_not
                    # msm > 0 with no should is the strict-oracle edge
                    # every other rule also stays away from
                    and q.minimum_should_match == 0
                ):
                    continue
            flat_not.append(q)
        must_not = flat_not

        # required-group hoist: an inner Bool carrying should clauses in
        # the MUST list is a required group — "c AND (a OR b)", or
        # "c AND (d maybe-a maybe-b)".  When the parent has no should
        # clauses of its own (and no explicit msm to collide with),
        # lifting inner.must into the parent's must list, inner.should
        # into the parent's should list, and pinning the parent's
        # minimum_should_match to the inner's EFFECTIVE msm is exactly
        # equivalent under the pinned Bool semantics: match = all musts
        # AND none of the must_nots AND >= msm of the group's members
        # either way (a should-only inner Bool requires >= 1 member —
        # Lucene's implicit-msm rule — which effective_msm() yields),
        # and the score is the same linear sum (must_not arms never
        # score).  This puts the most common hybrid user shape on the
        # ReqOptSum block-max kernel (the conjunction drives candidates,
        # group members score as optionals gated by opt_msm) instead of
        # the exhaustive decode-everything plan.  Only the FIRST
        # such group hoists — two groups' msm constraints cannot share
        # one should list (">=1 of {a,b} AND >=1 of {c,d}" is not
        # ">=2 of {a,b,c,d}") — and the rewrite fires at most once per
        # node because the result has should clauses.
        if not should and node.minimum_should_match == 0:
            for i, q in enumerate(must):
                if isinstance(q, ast.Bool) and q.boost == 1.0 and q.should:
                    rest = must[:i] + list(q.must) + must[i + 1:]
                    if rest and all(
                        isinstance(r, ast.Range) for r in rest
                    ):
                        # "(a OR b) AND ts>X": hoisting would leave a
                        # range-only must list, which cannot drive the
                        # ReqOptSum kernel (no postings stream).  Kept
                        # required, the group's member union drives the
                        # conjunction kernel and its decode
                        # carries the doc-value streams for the range
                        # mask — still exactly equivalent, and on a
                        # kernel instead of the exhaustive plan.
                        continue
                    return normalize(ast.Bool(
                        must=rest,
                        must_not=must_not + list(q.must_not),
                        should=list(q.should),
                        minimum_should_match=q.effective_msm(),
                        boost=node.boost,
                    ))

        msm_safe = node.effective_msm() <= 1
        must = _merge_dup_terms(must, allow=True)
        should = _merge_dup_terms(should, allow=msm_safe)

        # single-clause collapse (boost 1 only — Bool boost multiplies
        # the SUM, which for one clause is the clause's own score)
        if node.boost == 1.0 and not must_not:
            if (
                len(must) == 1
                and not should
                and node.minimum_should_match == 0
            ):
                return must[0]
            if not must and len(should) == 1 and node.effective_msm() <= 1:
                return should[0]
        # boost distribution: score(Bool) = boost × (Σ must + Σ matched
        # should) = Σ (boost-scaled clauses) — exact for ANY boost sign
        # (plain linear sum; msm counts matches, not scores).  Kernels
        # serve boost-1 Bools only, so "(a b)^2" reaches them this way.
        if node.boost != 1.0:
            s_must = [_scale(q, node.boost) for q in must]
            s_should = [_scale(q, node.boost) for q in should]
            if all(s is not None for s in s_must + s_should):
                return normalize(ast.Bool(
                    must=s_must,
                    must_not=must_not,
                    should=s_should,
                    minimum_should_match=node.minimum_should_match,
                    boost=1.0,
                ))
        return ast.Bool(
            must=must,
            must_not=must_not,
            should=should,
            minimum_should_match=node.minimum_should_match,
            boost=node.boost,
        )
    if isinstance(node, ast.Filtered):
        q = normalize(node.query)
        f = normalize(node.filter)
        if isinstance(f, ast.MatchAll) and node.boost == 1.0:
            return q  # semi-join against every doc is the identity
        # boost distribution: score(Filtered) = boost × score(query) on
        # the filtered match set — fold the boost into the query arm
        # when it is boost-linear, unlocking the boost-1 lowering below
        if node.boost != 1.0:
            qs = _scale(q, node.boost)
            if qs is not None:
                return normalize(
                    ast.Filtered(query=qs, filter=f, boost=1.0)
                )
        # Filtered(q, f) ≡ Bool(must=[q, zero_boost(f)]): the must list
        # intersects the match sets and the score sum is score(q) + 0 —
        # the same lowering Lucene performs when it folds a
        # FilteredQuery into a BooleanQuery FILTER clause.  This puts
        # filtered disjunctions on the ReqOptSum kernel (the filter
        # drives candidates, the shoulds score) and lets the batch
        # module share one scan across filtered queries.  Requires a
        # boost-scalable filter (_ZEROABLE) and node boost 1.
        if node.boost == 1.0 and isinstance(f, _ZEROABLE):
            fz = _dc_replace(f, boost=0.0)
            if (
                isinstance(q, ast.Bool)
                and q.boost == 1.0
                and (q.must or q.should)
                # msm > 0 with no should clauses is the evaluator/oracle
                # edge normalize stays away from (see the Bool rules)
                and not (q.minimum_should_match > 0 and not q.should)
            ):
                return normalize(ast.Bool(
                    must=list(q.must) + [fz],
                    must_not=list(q.must_not),
                    should=list(q.should),
                    # the lowered Bool gains a must clause, which drops
                    # a should-only query's implicit msm=1 — pin the
                    # original effective value explicitly
                    minimum_should_match=q.effective_msm(),
                    boost=1.0,
                ))
            if not isinstance(q, ast.Bool):
                # any other query type is an opaque must clause: its
                # own evaluation keeps its semantics, the sum adds 0
                return normalize(ast.Bool(must=[q, fz]))
        return ast.Filtered(query=q, filter=f, boost=node.boost)
    if isinstance(node, ast.ConstantScore):
        q = normalize(node.query)
        # the outer constant wins regardless of the inner score
        while isinstance(q, ast.ConstantScore):
            q = q.query
        # Wildcard/Fuzzy/MatchAll are ALREADY constant-score nodes in
        # this engine (score := boost — Lucene CONSTANT_SCORE_REWRITE
        # for multi-term queries) — the wrapper folds into their boost,
        # which keeps top-level patterns on the 'any' kernel
        if isinstance(q, (ast.Wildcard, ast.Fuzzy, ast.MatchAll)):
            return _dc_replace(q, boost=node.boost)
        return ast.ConstantScore(query=q, boost=node.boost)
    if isinstance(node, ast.DisMax):
        return ast.DisMax(
            queries=[normalize(q) for q in node.queries],
            tie_breaker=node.tie_breaker,
            boost=node.boost,
        )
    if isinstance(node, ast.NoZeroScore):
        return ast.NoZeroScore(query=normalize(node.query))
    if isinstance(node, ast.NoNorm):
        return ast.NoNorm(query=normalize(node.query))
    if isinstance(node, ast.RandomScore):
        return ast.RandomScore(
            query=normalize(node.query), base=node.base, seed=node.seed
        )
    if isinstance(node, ast.CustomScore):
        return ast.CustomScore(
            query=normalize(node.query),
            expression=node.expression,
            replace=node.replace,
            boost=node.boost,
        )
    return node
