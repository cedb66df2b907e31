"""Pure-Python reference engine — the rank oracle.

≤200 LoC, zero Spark: tokenize → in-memory postings → BM25 → top-k.
Interprets the same AST as the engine's plans; pytest asserts the two
produce rank-identical docids and scores (SURVEY.md §5 "adopted for our
engine": exact-value assertions in the reference's test style, e.g.
test/bzzz/core_test.clj:578-599 asserts exact float scores).

Scoring semantics are pinned in bzzz_spark.query.ast; BM25 math comes
from bzzz_spark.query.scoring (the single source of truth).
"""

from __future__ import annotations

import re
from collections import Counter, defaultdict

from bzzz_spark.analysis.tokenizer import py_tokenize
from bzzz_spark.query import ast
from bzzz_spark.query.scoring import idf
from bzzz_spark import BM25_B, BM25_K1


def _sloppy_phrase_freq(adj_lists: list[list[int]], slop: int) -> float:
    """Direct heapq port of Lucene SloppyPhraseScorer.phraseFreq for
    distinct terms: ``adj_lists[i]`` holds term i's positions already
    adjusted by the phrase offset (pos - i), sorted ascending.  Each
    recorded match contributes sloppyFreq = 1/(1 + matchLength); ties
    in the PQ break by phrase offset.  Kept INDEPENDENT of the engine's
    vectorized implementation (bzzz_spark.query.phrase) on purpose —
    the randomized fuzz in tests/test_phrase.py cross-checks the two."""
    import heapq

    if len(adj_lists) == 1:
        # one leg: every occurrence is a match with matchLength 0
        # (Lucene rewrites a 1-term PhraseQuery to a TermQuery)
        return float(len(adj_lists[0]))
    heap: list[tuple[int, int, int]] = []  # (position, offset, next_idx)
    end = None
    for off, lst in enumerate(adj_lists):
        if not lst:
            return 0.0
        heap.append((lst[0], off, 1))
        end = lst[0] if end is None else max(end, lst[0])
    heapq.heapify(heap)
    freq = 0.0
    pos, off, nxt_i = heapq.heappop(heap)
    match_length = end - pos
    next_pos = heap[0][0]
    while True:
        lst = adj_lists[off]
        if nxt_i >= len(lst):
            break  # this term is exhausted — score the pending match
        pos = lst[nxt_i]
        nxt_i += 1
        if pos > end:
            end = pos
        if pos > next_pos:  # done minimizing the current match length
            if match_length <= slop:
                freq += 1.0 / (1.0 + match_length)
            heapq.heappush(heap, (pos, off, nxt_i))
            pos, off, nxt_i = heapq.heappop(heap)
            next_pos = heap[0][0]
            match_length = end - pos
        else:
            match_length = min(match_length, end - pos)
    if match_length <= slop:
        freq += 1.0 / (1.0 + match_length)
    return freq


def _sloppy_phrase_freq_repeats(
    adj_lists: list[list[int]], groups: list[list[int]], slop: int
) -> float:
    """Independent port of Lucene SloppyPhraseMatcher's REPEATING-terms
    walk (plain-phrase case: each repeated term is its own collision
    group).  Structure kept deliberately different from the engine's
    (bzzz_spark.query.phrase_repeats): a real heapq with lazy-stale
    entries, rebuilt after collision moves — the fuzz in
    tests/test_phrase.py cross-checks the two ports.

    `groups` holds the leg indexes of each repeated term, phrase
    offsets ascending.  Init staggers group member i to the (i+1)-th
    occurrence; during the walk, whenever two group members sit on the
    same token position (adjusted + offset), the lesser by (adjusted,
    offset) advances, chasing collisions transitively.  `next` (the PQ
    top) refreshes only at role swaps — Lucene's cached-next
    discipline — never after collision moves."""
    import heapq

    if len(adj_lists) == 1:
        return float(len(adj_lists[0]))
    k = len(adj_lists)
    idx = [0] * k
    cur_pos = [0] * k
    for j, lst in enumerate(adj_lists):
        if not lst:
            return 0.0
        cur_pos[j] = lst[0]
    end = max(cur_pos)
    gid = {}
    for g in groups:
        for j in g:
            gid[j] = g

    def step(j: int) -> bool:
        nonlocal end
        idx[j] += 1
        if idx[j] >= len(adj_lists[j]):
            return False
        cur_pos[j] = adj_lists[j][idx[j]]
        end = max(end, cur_pos[j])
        return True

    for g in groups:
        for i, j in enumerate(g):
            for _ in range(i):
                if not step(j):
                    return 0.0
    heap = [(cur_pos[j], j) for j in range(k)]
    heapq.heapify(heap)
    _, off = heapq.heappop(heap)
    match_length = end - cur_pos[off]
    next_pos = heap[0][0]
    freq = 0.0
    alive = True
    while alive:
        if not step(off):
            break
        if off in gid:
            chase = off
            while alive:
                g = gid.get(chase)
                if g is None:
                    break
                token = cur_pos[chase] + chase
                hit = [
                    j for j in g if j != chase and cur_pos[j] + j == token
                ]
                if not hit:
                    break
                other = hit[0]
                pair = sorted((chase, other),
                              key=lambda j: (cur_pos[j], j))
                chase = pair[0]
                if not step(chase):
                    alive = False
            if not alive:
                break
            # queue members may have moved: rebuild (k is tiny)
            heap = [(cur_pos[j], j) for _, j in heap]
            heapq.heapify(heap)
        if cur_pos[off] > next_pos:
            if match_length <= slop:
                freq += 1.0 / (1.0 + match_length)
            heapq.heappush(heap, (cur_pos[off], off))
            _, off = heapq.heappop(heap)
            next_pos = heap[0][0]
            match_length = end - cur_pos[off]
        else:
            match_length = min(match_length, end - cur_pos[off])
    if match_length <= slop:
        freq += 1.0 / (1.0 + match_length)
    return freq


def levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def osa_distance(a: str, b: str) -> int:
    """Optimal-string-alignment (restricted Damerau) distance: an
    adjacent-character transposition counts as ONE edit.  This is
    Lucene's FuzzyQuery(transpositions=true) metric (its Levenshtein
    automata are built with transpositions as primitive edits)."""
    if a == b:
        return 0
    prev2: list[int] | None = None
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            d = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            if (
                prev2 is not None
                and i > 1
                and j > 1
                and ca == b[j - 2]
                and a[i - 2] == cb
            ):
                d = min(d, prev2[j - 2] + 1)
            cur.append(d)
        prev2, prev = prev, cur
    return prev[-1]


def fuzzy_distance_fn(transpositions: bool):
    """The edit-distance metric a Fuzzy node pins: plain Levenshtein
    (reference default) or OSA when transpositions=true."""
    return osa_distance if transpositions else levenshtein


class PyIndex:
    def __init__(self, rows: list[dict], extra_fields: tuple = ()):
        """rows: dicts with conv_id, turn_idx, role, text, tool, ts.

        extra_fields mirrors IndexConfig.extra_fields: ((name, analyzer),
        ...) — per-field postings keyed '<field>:<token>', scored with
        norms disabled (dl := avgdl)."""
        self.extra_fields = dict(extra_fields)
        latest: dict[tuple, dict] = {}
        for r in rows:  # upsert: latest ts wins (index_store.clj:109-113)
            key = (r["conv_id"], r["turn_idx"])
            if key not in latest or r["ts"] >= latest[key]["ts"]:
                latest[key] = r
        ordered = sorted(latest.values(), key=lambda r: (r["conv_id"], r["turn_idx"]))
        self.docs: list[dict] = []
        self.postings: dict[str, dict[int, int]] = defaultdict(dict)
        self.positions: dict[str, dict[int, list[int]]] = defaultdict(dict)
        for docid, r in enumerate(ordered):
            toks = py_tokenize(r["text"])
            doc = dict(r)
            doc["docid"] = docid
            doc["dl"] = len(toks)
            self.docs.append(doc)
            occ: dict[str, list[int]] = defaultdict(list)
            for pos, t in enumerate(toks):
                occ[t].append(pos)
            for term, plist in occ.items():
                self.postings[term][docid] = len(plist)
                self.positions[term][docid] = plist
            for fname, analyzer in self.extra_fields.items():
                v = r.get(fname)
                if v is None:
                    continue
                ftoks = (
                    [str(v).lower()] if analyzer == "keyword"
                    else py_tokenize(str(v))
                )
                for term, tf in Counter(ftoks).items():
                    if term:
                        self.postings[f"{fname}:{term}"][docid] = tf
        self.n_docs = len(self.docs)
        self.avgdl = (
            sum(d["dl"] for d in self.docs) / self.n_docs if self.n_docs else 0.0
        )

    def _scoped_terms(self, field_name: str) -> list[tuple[str, str]]:
        """(key, bare_token) pairs visible to a multi-term pattern on
        the given field — field patterns see only their own key space,
        default-field patterns never see field keys."""
        if field_name in self.extra_fields:
            pre = f"{field_name}:"
            return [
                (t, t[len(pre):]) for t in self.postings if t.startswith(pre)
            ]
        return [(t, t) for t in self.postings if ":" not in t]

    # ---------------------------------------------------------------- scoring

    def _cap_expansion(self, terms: list[str], cap: int | None) -> list[str]:
        """max_expansion: keep the top-cap matching terms by
        (df desc, term asc) — TopTermsRewrite order, the same cap the
        engine applies (executor.expand_multiterm)."""
        if cap is None or len(terms) <= cap:
            return terms
        return sorted(terms, key=lambda t: (-len(self.postings[t]), t))[:cap]

    def _bm25(self, term: str, nonorm: bool = False) -> dict[int, float]:
        plist = self.postings.get(term, {})
        if not plist:
            return {}
        # extra-field terms, and every term below NoNorm, score without
        # norms: dl := avgdl
        nonorm = nonorm or (
            ":" in term and term.split(":", 1)[0] in self.extra_fields
        )
        w = idf(self.n_docs, len(plist))
        out = {}
        for docid, tf in plist.items():
            dl = self.avgdl if nonorm else self.docs[docid]["dl"]
            out[docid] = w * (
                tf * (BM25_K1 + 1.0)
                / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / self.avgdl))
            )
        return out

    def execute(
        self, node: ast.Query, custom_fns: dict | None = None,
        nonorm: bool = False,
    ) -> dict[int, float]:
        """AST → {docid: score}.  ``nonorm``: below a NoNorm node, terms
        and phrases score with dl := avgdl (BM25 b = 0)."""
        ex = lambda n: self.execute(n, custom_fns, nonorm)  # noqa: E731
        if isinstance(node, ast.Term):
            key = (
                f"{node.field_name}:{str(node.value).lower()}"
                if node.field_name in self.extra_fields
                else node.value
            )
            return {
                d: s * node.boost for d, s in self._bm25(key, nonorm).items()
            }
        if isinstance(node, ast.Phrase):
            # Lucene PhraseWeight: (Σ idf(term_i)) × tfc(phrase_freq, dl).
            # slop == 0: ExactPhraseScorer (start-position count);
            # slop  > 0: SloppyPhraseScorer greedy PQ walk (see
            # _sloppy_phrase_freq) — unordered, 1/(1+matchLength) per
            # match, distinct terms only (pinned subset).
            maps = [self.positions.get(t) for t in node.terms]
            if not maps or any(m is None for m in maps):
                return {}
            cand = set(maps[0])
            for m in maps[1:]:
                cand &= set(m)
            w = sum(idf(self.n_docs, len(self.postings[t])) for t in node.terms)
            slop = getattr(node, "slop", 0)
            by_term: dict = {}
            for off, t in enumerate(node.terms):
                by_term.setdefault(t, []).append(off)
            rpt_groups = [g for g in by_term.values() if len(g) > 1]
            out = {}
            for docid in cand:
                lists = [sorted(m[docid]) for m in maps]
                if slop == 0:
                    starts = set(lists[0])
                    for i, qs in enumerate(lists[1:], start=1):
                        starts &= {q - i for q in qs}
                    ptf = float(len(starts))
                elif rpt_groups:
                    ptf = _sloppy_phrase_freq_repeats(
                        [[p - i for p in qs] for i, qs in enumerate(lists)],
                        rpt_groups,
                        slop,
                    )
                else:
                    ptf = _sloppy_phrase_freq(
                        [[p - i for p in qs] for i, qs in enumerate(lists)],
                        slop,
                    )
                if ptf:
                    dl = self.avgdl if nonorm else self.docs[docid]["dl"]
                    out[docid] = (
                        w
                        * (ptf * (BM25_K1 + 1.0)
                           / (ptf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / self.avgdl)))
                        * node.boost
                    )
            return out
        if isinstance(node, ast.MatchAll):
            return {d["docid"]: node.boost for d in self.docs}
        if isinstance(node, ast.Range):
            out = {}
            for d in self.docs:
                v = d.get(node.field_name)
                if v is None:
                    continue
                ok = True
                if node.min is not None:
                    ok = v >= node.min if node.min_inclusive else v > node.min
                if ok and node.max is not None:
                    ok = v <= node.max if node.max_inclusive else v < node.max
                if ok:
                    out[d["docid"]] = node.boost
            return out
        if isinstance(node, ast.Bool):
            musts = [ex(q) for q in node.must]
            shoulds = [ex(q) for q in node.should]
            nots = [ex(q) for q in node.must_not]
            msm = node.effective_msm()
            if musts:
                cand = set(musts[0])
                for m in musts[1:]:
                    cand &= set(m)
            elif shoulds:
                cand = set().union(*[set(s) for s in shoulds])
            else:
                cand = set()  # only must_not matches nothing (Lucene semantics)
            for nt in nots:
                cand -= set(nt)
            out = {}
            for docid in cand:
                sh_hits = [s[docid] for s in shoulds if docid in s]
                if len(sh_hits) < msm:
                    continue
                out[docid] = (sum(m[docid] for m in musts) + sum(sh_hits)) * node.boost
            return out
        if isinstance(node, ast.Filtered):
            q, f = ex(node.query), ex(node.filter)
            return {d: s * node.boost for d, s in q.items() if d in f}
        if isinstance(node, ast.ConstantScore):
            return {d: node.boost for d in ex(node.query)}
        if isinstance(node, ast.DisMax):
            subs = [ex(q) for q in node.queries]
            all_docs = set().union(*[set(s) for s in subs]) if subs else set()
            out = {}
            for docid in all_docs:
                scores = [s[docid] for s in subs if docid in s]
                mx = max(scores)
                out[docid] = (mx + node.tie_breaker * (sum(scores) - mx)) * node.boost
            return out
        if isinstance(node, ast.Wildcard):
            # * and ? only (Lucene WildcardQuery semantics, matching the
            # engine's glob_to_regex — no [seq] classes).  Patterns are
            # scoped to their field's key space.
            rx = re.compile(
                "^"
                + "".join(
                    ".*" if c == "*" else "." if c == "?" else re.escape(c)
                    for c in node.value
                )
                + "$"
            )
            terms = [
                t for t, bare in self._scoped_terms(node.field_name)
                if rx.match(bare)
            ]
            terms = self._cap_expansion(terms, node.max_expansion)
            docs = set().union(*[set(self.postings[t]) for t in terms]) if terms else set()
            return {d: node.boost for d in docs}
        if isinstance(node, ast.Fuzzy):
            dist = fuzzy_distance_fn(getattr(node, "transpositions", False))
            terms = [
                t
                for t, bare in self._scoped_terms(node.field_name)
                if bare.startswith(node.value[: node.prefix_len])
                and dist(bare, node.value) <= node.max_edits
            ]
            terms = self._cap_expansion(terms, node.max_expansion)
            docs = set().union(*[set(self.postings[t]) for t in terms]) if terms else set()
            return {d: node.boost for d in docs}
        if isinstance(node, ast.NoZeroScore):
            return {d: s for d, s in ex(node.query).items() if s != 0.0}
        if isinstance(node, ast.NoNorm):
            return self.execute(node.query, custom_fns, nonorm=True)
        if isinstance(node, ast.RandomScore):
            return {
                d: node.base + ast.rand_score(d, node.seed) for d in ex(node.query)
            }
        if isinstance(node, ast.CustomScore):
            base = ex(node.query)
            fn = (custom_fns or {})[node.expression]
            out = {}
            for d, s in base.items():
                v = fn(self.docs[d], s)
                out[d] = (v if node.replace else s * v) * node.boost
            return out
        raise ValueError(f"oracle cannot execute {type(node).__name__}")

    def search(
        self,
        node: ast.Query,
        size: int = 20,
        page: int = 0,
        custom_fns: dict | None = None,
    ) -> list[tuple[int, float]]:
        """Top-k with the reference's paging: PQ of page*size+size, return
        rows [page*size, page*size+size) (index_search.clj:272,306).
        Deterministic tie-break (score desc, docid asc)."""
        scored = self.execute(node, custom_fns)
        ranked = sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[page * size : page * size + size]
