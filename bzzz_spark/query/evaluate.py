"""One planner for both runtimes, and the exhaustive evaluator behind it.

``plan`` gives a query the block-max kernel plan of query/wand.py when
its shape has one, else the exhaustive plan below: one numpy
interpreter of the AST over the query's decoded block set, packaged as
a KernelPlan, so that the in-process tier (serve.local) and the Spark
tier (wand.run_plans) run every shape as they run a kernel.

Each node yields (sorted unique docids, scores), with the semantics
pinned in query.ast and the oracle's arithmetic order: a Bool scores
(Σ must + Σ matched should) · boost in clause order, must_not subtracts,
and a Bool with neither must nor should matches nothing.  MatchAll,
Range and CustomScore read the docs frame (KernelPlan.doc_cols).  A
CustomScore evaluates a Spark SQL expression, so only the Spark runtime
computes it, into a docs column (executor.plan_docs); its plan is
outside the in-process serving family.  Nothing is pruned, so any boost
sign is exact, and as a document's score depends only on its own
postings and columns, the whole block set is evaluated at once and
then cut to the top-k per segment, the kernels' contract.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from bzzz_spark.query import ast, wand
from bzzz_spark.query.blocks import Blocks, decode
from bzzz_spark.query.phrase import phrase_arrays
from bzzz_spark.query.scoring import idf as idf_fn
from bzzz_spark.query.scoring import tf_component_np
from bzzz_spark.query.wand import (
    _EMPTY_PLAN,
    KernelPlan,
    _dv_mask,
    _find,
    _mt_key,
    _topk,
    lookup,
)

_NONE = (np.empty(0, dtype=np.int64), np.empty(0))


def plan(index, node: ast.Query, k: int) -> KernelPlan:
    """The one planner entry of every runtime: the block-max kernel
    plan when the shape has one, else the exhaustive plan.  ``node`` is
    validated and normalized by the caller."""
    got = wand.plan_candidates(index, node, k)
    return plan_exhaustive(index, node, k) if got is None else got


class _Input:
    """One kernel call's inputs: the blocks ordered by (term_id,
    first_docid), so each term's blocks over every segment are one
    ascending slice, and the docs frame sorted by docid."""

    def __init__(self, blocks: pd.DataFrame, docs: pd.DataFrame | None):
        self.b = Blocks.from_frame(blocks, segments=False) if len(blocks) \
            else None
        self.docs = docs
        if docs is not None:
            ids = docs["docid"].to_numpy().astype(np.int64)
            self.order = np.argsort(ids, kind="stable")
            self.ids = ids[self.order]

    def column(self, name: str) -> np.ndarray:
        return self.docs[name].to_numpy()[self.order]

    def rows(self, tids) -> np.ndarray:
        return _NONE[0] if self.b is None else self.b.rows_of(tids)


def _union(parts: list) -> np.ndarray:
    return np.unique(np.concatenate([d for d, _s in parts] or [_NONE[0]]))


def _const(d: np.ndarray, boost: float) -> tuple:
    return d, np.full(d.size, float(boost))


class _Compiler:
    """AST → evaluator closures ``f(inp) -> (docids, scores)``, with
    every dictionary lookup and expansion resolved at plan time."""

    def __init__(self, index, node: ast.Query):
        from bzzz_spark.query.executor import term_key

        if "positions" not in index.postings.columns and any(
            isinstance(n, ast.Phrase) for n in ast.iter_nodes(node)
        ):
            raise ValueError(
                "this index stores no positions — build it with "
                "IndexConfig(store_positions=True) to answer phrase queries"
            )
        self.n_docs, self.avgdl = index.scalar_stats()
        self.key = lambda f, v: term_key(index, f, v)
        self.meta, self.expansions = lookup(index, [node])
        self.tids: set = set()
        self.doc_cols: dict = {}  # an ordered set
        self.custom: list = []

    def _scored(self, field: str, values: list, boost: float, nonorm: bool):
        """idf · tfc · boost of a term (one value) or a phrase: the
        matches' (docids, tf or phrase freq, dl) → scores; None when a
        value is out of vocabulary."""
        keys = [self.key(field, v) for v in values]
        if not all(k in self.meta for k in keys):
            return None, None
        tids = [int(self.meta[k][0]) for k in keys]
        self.tids.update(tids)
        w = sum(idf_fn(self.n_docs, self.meta[k][1]) for k in keys)
        avgdl = self.avgdl

        def score(d, tf, dl):
            dl = avgdl if nonorm else dl
            return d, w * tf_component_np(tf, dl, avgdl) * boost

        return tids, score

    def compile(self, node: ast.Query, nonorm: bool = False):
        c = lambda q: self.compile(q, nonorm)  # noqa: E731
        if isinstance(node, ast.Term):
            tids, score = self._scored(node.field_name, [node.value],
                                       node.boost, nonorm)
            if tids is None:
                return lambda inp: _NONE

            def term(inp):
                rows = inp.rows(tids)
                if rows.size == 0:
                    return _NONE
                dec = decode(inp.b, rows)
                return score(dec.d, dec.tf, dec.dl)

            return term
        if isinstance(node, ast.Phrase):
            legs, score = self._scored(node.field_name, node.terms,
                                       node.boost, nonorm)
            if legs is None:
                return lambda inp: _NONE

            def phrase(inp):
                m = phrase_arrays(inp.b, legs, node.slop) if inp.b else None
                return _NONE if m is None else score(*m)

            return phrase
        if isinstance(node, (ast.Wildcard, ast.Fuzzy)):
            tids = sorted(int(self.meta[t][0])
                          for t in self.expansions[_mt_key(node)]
                          if t in self.meta)
            self.tids.update(tids)

            def multiterm(inp):
                rows = inp.rows(tids)
                if rows.size == 0:
                    return _NONE
                return _const(np.unique(decode(inp.b, rows, dl=False).d),
                              node.boost)

            return multiterm
        if isinstance(node, ast.MatchAll):
            self.doc_cols["docid"] = None
            return lambda inp: _const(inp.ids, node.boost)
        if isinstance(node, ast.Range):
            f = node.field_name
            self.doc_cols.update({"docid": None, f: None})
            return lambda inp: _const(inp.ids[_dv_mask(
                [(node, 0.0)], {f: inp.column(f)})], node.boost)
        if isinstance(node, ast.Bool):
            return _bool_fn([c(q) for q in node.must],
                            [c(q) for q in node.should],
                            [c(q) for q in node.must_not],
                            node.effective_msm(), node.boost)
        if isinstance(node, ast.Filtered):
            fq, ff = c(node.query), c(node.filter)

            def filtered(inp):
                (d, s), (fd, _fs) = fq(inp), ff(inp)
                hit = _find(fd, d)[1]
                return d[hit], s[hit] * node.boost

            return filtered
        if isinstance(node, ast.DisMax):
            return _dismax_fn([c(q) for q in node.queries],
                              node.tie_breaker, node.boost)
        if isinstance(node, ast.NoNorm):
            return self.compile(node.query, True)
        if isinstance(node, ast.CustomScore):
            sub = ast.NoNorm(node.query) if nonorm else node.query
            entry = ast.CustomScore(sub, node.expression, node.replace,
                                    node.boost)
            # unique among the live plans of one run: the plan holds entry
            name = f"__custom{id(entry)}"
            self.custom.append((name, entry))
            self.doc_cols.update(
                {"docid": None, name: None, f"{name}_hit": None})

            def custom(inp):
                hit = inp.column(f"{name}_hit") == 1
                return inp.ids[hit], inp.column(name)[hit].astype(np.float64)

            return custom
        if isinstance(node, (ast.ConstantScore, ast.NoZeroScore,
                             ast.RandomScore)):
            fq, each = c(node.query), _RESCORE[type(node)]
            return lambda inp: each(node, *fq(inp))
        raise ValueError(f"cannot execute {type(node).__name__}")


# the nodes that rescore their one subquery's (docids, scores)
_RESCORE = {
    ast.ConstantScore: lambda n, d, s: _const(d, n.boost),
    ast.NoZeroScore: lambda n, d, s: (d[s != 0.0], s[s != 0.0]),
    ast.RandomScore: lambda n, d, s: (d, n.base + np.array(
        [ast.rand_score(int(x), n.seed) for x in d], dtype=np.float64)),
}


def _bool_fn(musts: list, shoulds: list, nots: list, msm: int,
             boost: float):
    need = msm if musts else max(msm, 1)

    def boolean(inp):
        if not (musts or shoulds):
            return _NONE  # only must_not (or nothing) matches nothing
        sparts = [f(inp) for f in shoulds]
        acc = None
        if musts:
            d, acc = musts[0](inp)
            for f in musts[1:]:
                od, os_ = f(inp)
                pos, hit = _find(od, d)
                d, acc = d[hit], acc[hit] + os_[pos[hit]]
        else:
            d = _union(sparts)
        keep = np.ones(d.size, dtype=bool)
        if shoulds:
            ssum = np.zeros(d.size)
            cnt = np.zeros(d.size, dtype=np.int64)
            for sd, ss in sparts:
                pos, hit = _find(d, sd)
                ssum[pos[hit]] += ss[hit]
                cnt[pos[hit]] += 1
            keep &= cnt >= need
            acc = ssum if acc is None else acc + ssum
        for f in nots:
            keep &= ~_find(f(inp)[0], d)[1]
        return d[keep], acc[keep] * boost

    return boolean


def _dismax_fn(queries: list, tie: float, boost: float):
    def dismax(inp):
        parts = [f(inp) for f in queries]
        d = _union(parts)
        mx = np.full(d.size, -np.inf)
        sm = np.zeros(d.size)
        for qd, qs in parts:
            idx = np.searchsorted(d, qd)
            mx[idx] = np.maximum(mx[idx], qs)
            sm[idx] += qs
        return d, (mx + tie * (sm - mx)) * boost

    return dismax


def plan_exhaustive(index, node: ast.Query, k: int | None) -> KernelPlan:
    """The exhaustive plan of any query: its kernel evaluates the whole
    tree over the blocks of every term it names (and the docs columns
    it names), then keeps each segment's top-k — or, with k None, the
    full matched set in docid order."""
    if index.scalar_stats()[0] == 0:
        return _EMPTY_PLAN
    comp = _Compiler(index, node)
    root = comp.compile(node)
    if not comp.tids and not comp.doc_cols:
        return _EMPTY_PLAN  # every leaf is out of vocabulary
    seg_size = int(index.config.segment_size)

    def kernel(blocks: pd.DataFrame, docs: pd.DataFrame | None = None):
        d, s = root(_Input(blocks, docs))
        if k is not None and d.size:
            cuts = np.flatnonzero(np.diff(d // seg_size)) + 1
            got = [_topk(d[lo:hi], s[lo:hi], k)
                   for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, d.size])]
            d = np.concatenate([g[0] for g in got])
            s = np.concatenate([g[1] for g in got])
        return pd.DataFrame({"docid": d.astype(np.int64, copy=False),
                             "score": s.astype(np.float64, copy=False)},
                            copy=False)

    return KernelPlan(kernel, tuple(sorted(comp.tids)),
                      doc_cols=tuple(comp.doc_cols),
                      custom=tuple(comp.custom))
