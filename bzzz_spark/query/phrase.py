"""Phrase execution: block-pruned positional decode + Lucene-parity
matching.

Semantics (pinned in :class:`bzzz_spark.query.ast.Phrase`):

- slop == 0 — Lucene ExactPhraseScorer: phrase_freq = number of start
  positions p with term_i at p + i for every i.
- slop > 0 — Lucene SloppyPhraseScorer: terms may
  appear in ANY order; each match is weighted 1/(1 + matchLength) where
  matchLength is the span slack in adjusted-position space (position -
  phrase_offset), exactly the greedy PQ walk of Lucene's
  SloppyPhraseScorer.phraseFreq (the reference serves this through the
  classic parser's `"a b"~N` syntax — src/bzzz/queries/query_parser.clj:6-17
  delegates to Lucene's PhraseQuery with setSlop).

Scale shape (the point of this module): the reference leapfrogs from the
rarest term's postings (TermPayloadClojureScoreQuery.java:237-257 shows
the per-segment leapfrog discipline); naively decoding every phrase
term's full position lists re-reads all of "the"'s positions for the
phrase "the merge".  Here each segment task:

  1. sorts the phrase's terms by their postings count in this segment;
  2. decodes the rarest term's blocks fully;
  3. for every other term keeps ONLY the blocks whose
     [first_docid, last_docid] range intersects the surviving candidate
     docids (np.searchsorted over block metadata — blocks that cannot
     contain a candidate are never decoded, positions included);
  4. intersects candidates term by term (docids only);
  5. verifies positions just for the final intersection, vectorized.

The per-term decoded-block count is therefore bounded by the rare
term's candidate ranges, not the head term's posting count —
tests/test_phrase.py asserts this with the kernel's stats output.

The matching kernels are numpy-vectorized across documents:
- exact: a (doc, start_position) group-count — a start matches iff all
  k legs contain it, so the composite key appears exactly k times;
- sloppy with k >= 2 distinct terms: batched greedy walk (every
  active doc advances one PhrasePositions per numpy step) — candidates
  at this point are docs containing ALL phrase terms;
- sloppy with REPEATED terms ("a b a"): Lucene's repeating-terms
  machinery (collision groups; see bzzz_spark.query.phrase_repeats),
  per candidate doc after a tf >= multiplicity prefilter.

The pure-Python oracle (bzzz_spark.oracle.pyoracle) carries an
INDEPENDENT heapq port of the same Lucene algorithm; the two are
cross-checked by randomized fuzz in tests/test_phrase.py.
"""

from __future__ import annotations

import numpy as np

from bzzz_spark.query.blocks import Blocks, Decoded, decode, overlapping, tally
from bzzz_spark.query.phrase_repeats import repeat_groups

def _exact_freqs(legs, n_cand: int):
    """legs: [(doc_rank, adjusted_pos)] per phrase offset, each sorted by
    (doc_rank, adj).  Returns (doc_rank, ptf) for docs with >=1 match."""
    k = len(legs)
    shift = 1
    for _, adj in legs:
        if adj.size:
            shift = max(shift, int(adj.max()) + 2)
    keys = []
    for doc_rank, adj in legs:
        m = adj >= 0  # a phrase cannot start before token 0
        # np.unique: stacked same-position tokens (position-filter
        # increment 0) must not double-count a single start position
        keys.append(np.unique(doc_rank[m].astype(np.int64) * shift + adj[m]))
    allk = np.concatenate(keys)
    u, c = np.unique(allk, return_counts=True)
    match = u[c == k]
    if match.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0)
    ur, cnt = np.unique(match // shift, return_counts=True)
    return ur, cnt.astype(np.float64)


def _sloppy_freq_one(lists: list[np.ndarray], slop: int) -> float:
    """Array-based greedy walk for one doc, k >= 3 distinct terms —
    Lucene SloppyPhraseScorer.phraseFreq with an argmin scan instead of
    a heap (k is tiny).  Ties break by phrase offset, like Lucene's
    PhrasePositions PQ."""
    k = len(lists)
    ptr = [0] * k
    pos = [int(l[0]) for l in lists]
    end = max(pos)

    def argmin_leg():
        best = 0
        for i in range(1, k):
            if (pos[i], i) < (pos[best], best):
                best = i
        return best

    cur = argmin_leg()
    nxt = min(pos[i] for i in range(k) if i != cur)
    ml = end - pos[cur]
    freq = 0.0
    while True:
        ptr[cur] += 1
        if ptr[cur] >= len(lists[cur]):
            break
        p = int(lists[cur][ptr[cur]])
        pos[cur] = p
        if p > end:
            end = p
        if p > nxt:
            if ml <= slop:
                freq += 1.0 / (1.0 + ml)
            cur = argmin_leg()
            nxt = min(pos[i] for i in range(k) if i != cur)
            ml = end - pos[cur]
        else:
            ml = min(ml, end - p)
    if ml <= slop:
        freq += 1.0 / (1.0 + ml)
    return freq


def _sloppy_freqs_repeats(legs, groups, slop: int, n_cand: int):
    """Sloppy freq when the phrase REPEATS a term ("a b a") — per
    candidate doc, the Lucene repeating-terms walk from
    :mod:`bzzz_spark.query.phrase_repeats` (collision groups keep two
    legs of one term off the same token occurrence).

    Per-doc Python loop, deliberately: candidates here already contain
    every unique term with tf >= its multiplicity (the kernel
    prefilters), so the set is small the same way the distinct-terms
    k>=3 walk's candidate set is; the collision-resolution state
    machine's data-dependent control flow is what the batched walks
    avoid and repeats reintroduce."""
    from bzzz_spark.query.phrase_repeats import sloppy_freq_repeats

    k = len(legs)
    bounds = []
    docs = np.arange(n_cand + 1, dtype=np.int64)
    for doc_rank, _adj in legs:
        bounds.append(np.searchsorted(doc_rank, docs, "left"))
    out_r, out_f = [], []
    for r in range(n_cand):
        lists = [
            legs[j][1][bounds[j][r]:bounds[j][r + 1]] for j in range(k)
        ]
        f = sloppy_freq_repeats(lists, groups, slop)
        if f > 0:
            out_r.append(r)
            out_f.append(f)
    return (
        np.asarray(out_r, dtype=np.int64),
        np.asarray(out_f, dtype=np.float64),
    )


def _sloppy_freqs_k(legs, slop: int, n_cand: int):
    """Batched greedy walk for k >= 2 distinct terms — the same Lucene
    SloppyPhraseScorer.phraseFreq state machine as _sloppy_freq_one, but
    every ACTIVE candidate doc advances one PhrasePositions per numpy
    step, so the Python-loop count is the MAX total occurrence count in
    any single doc, not the doc count.  legs are flat (doc_rank, adj) arrays
    sorted by (doc_rank, adj); per-doc slices via searchsorted.

    Cross-checked against _sloppy_freq_one and the oracle's independent
    heapq port in tests/test_phrase.py."""
    k = len(legs)
    docs = np.arange(n_cand + 1, dtype=np.int64)
    lo = np.empty((n_cand, k), dtype=np.int64)
    hi = np.empty((n_cand, k), dtype=np.int64)
    flat = []
    for j, (doc_rank, adj) in enumerate(legs):
        b = np.searchsorted(doc_rank, docs, "left")
        lo[:, j] = b[:-1]
        hi[:, j] = b[1:]
        flat.append(np.asarray(adj, dtype=np.int64))
    # upstream docid intersection guarantees every leg occurs in every
    # candidate; guard anyway (a missing leg means no match)
    valid = (hi > lo).all(axis=1)
    ptr = lo.copy()
    pos = np.zeros((n_cand, k), dtype=np.int64)
    for j in range(k):
        if flat[j].size:
            idx = np.clip(ptr[:, j], 0, flat[j].size - 1)
            pos[:, j] = flat[j][idx]
    end = pos.max(axis=1)
    cur = pos.argmin(axis=1)  # ties -> lowest phrase offset (Lucene PQ)
    nxt = np.partition(pos, 1, axis=1)[:, 1]  # min over legs != cur
    ml = end - pos[np.arange(n_cand), cur]
    freq = np.zeros(n_cand)
    active = valid.copy()
    while active.any():
        ids = np.flatnonzero(active)
        c = cur[ids]
        ptr[ids, c] += 1
        done = ptr[ids, c] >= hi[ids, c]
        fin = ids[done]
        if fin.size:
            # cur leg exhausted: the final pending match, then retire
            m = ml[fin] <= slop
            np.add.at(freq, fin[m], 1.0 / (1.0 + ml[fin[m]]))
            active[fin] = False
        go = ids[~done]
        if go.size == 0:
            continue
        cg = cur[go]
        p = np.empty(go.size, dtype=np.int64)
        for j in range(k):
            mj = cg == j
            if mj.any():
                p[mj] = flat[j][ptr[go[mj], j]]
        pos[go, cg] = p
        end[go] = np.maximum(end[go], p)
        swap = p > nxt[go]
        sw = go[swap]
        if sw.size:
            # role swap: record one match at the current matchLength,
            # then re-aim at the new min leg (greedy PQ discipline)
            m = ml[sw] <= slop
            np.add.at(freq, sw[m], 1.0 / (1.0 + ml[sw[m]]))
            ps = pos[sw]
            cur[sw] = ps.argmin(axis=1)
            nxt[sw] = np.partition(ps, 1, axis=1)[:, 1]
            ml[sw] = end[sw] - ps[np.arange(sw.size), cur[sw]]
        ns = go[~swap]
        if ns.size:
            ml[ns] = np.minimum(ml[ns], end[ns] - p[~swap])
    got = freq > 0
    return np.flatnonzero(got), freq[got]


def _decode_legs(b: Blocks, rows: np.ndarray, dl: bool,
                 cache: dict | None, stats: dict | None, tid: int) -> Decoded:
    """decode(b, rows, positions=True), counted in ``stats``; with a
    ``cache`` (row → its block's streams) each block decodes once."""
    if cache is None:
        tally(stats, "decoded_blocks", tid, rows.size)
        return decode(b, rows, dl=dl, positions=True)
    miss = np.array([r for r in rows.tolist() if r not in cache], np.int64)
    tally(stats, "decoded_blocks", tid, miss.size)
    if miss.size:
        dec = decode(b, miss, positions=True)
        ends = np.cumsum(b.count[miss])
        at = np.concatenate(([0], np.cumsum(dec.tf)))  # positions offsets
        for r, lo, hi in zip(miss.tolist(), ends - b.count[miss], ends):
            cache[r] = (dec.d[lo:hi], dec.tf[lo:hi], dec.dl[lo:hi],
                        dec.pos[at[lo]:at[hi]])
    d, tf, dls, pos = (np.concatenate(x)
                       for x in zip(*(cache[r] for r in rows.tolist())))
    return Decoded(d, tf, dls, {}, pos)


def phrase_arrays(
    b: Blocks, tid_order: list[int], slop: int,
    stats: dict | None = None, restrict: np.ndarray | None = None,
    cache: dict | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
    """One segment's phrase evaluation (or a whole block set ordered by
    term_id, as query.evaluate passes it): sorted (docid, ptf, dl)
    arrays, or None when nothing matches.

    ``stats`` (tests/plan audits) accumulates
    {"total_blocks": {tid: n}, "decoded_blocks": {tid: n}} — the pruning
    guarantee is decoded_blocks[head] << total_blocks[head] when a rare
    term anchors the phrase.

    ``restrict`` (sorted docid array): pre-established candidate set
    from an enclosing query (the WAND conjunction —
    `error AND "stack trace"` hands the phrase only error's survivors).
    Every leg's blocks — including the rarest — are pruned against it,
    and the output docids are a subset of it.  ``cache`` (a dict kept
    per segment by a caller that matches it several times) decodes each
    block once across calls; such a caller counts the legs'
    total_blocks itself, once (wand._Match), so only decodes count
    here."""
    if restrict is not None and restrict.size == 0:
        return None
    uniq = list(dict.fromkeys(int(t) for t in tid_order))
    per = {}
    for tid in uniq:
        rows = b.rows(tid)
        if rows.size == 0:
            return None  # a missing must-term: no phrase in this segment
        per[tid] = rows
        if cache is None:  # a caller keeping a cache counts its legs once
            tally(stats, "total_blocks", tid, rows.size)
    order = sorted(uniq, key=lambda t: int(b.count[per[t]].sum()))
    decoded = {}
    cand = cand_dl = None
    for i, tid in enumerate(order):
        rows = per[tid]
        bound_to = cand if i > 0 else restrict
        if bound_to is not None:
            # block-range pruning: decode only blocks that can hold a
            # surviving candidate
            rows = overlapping(b, rows, bound_to)
            if rows.size == 0:
                return None
        dec = _decode_legs(b, rows, i == 0, cache, stats, tid)
        d, tf = dec.d, dec.tf
        decoded[tid] = (d, tf, dec.pos)
        if i == 0:
            cand, cand_dl = d, dec.dl
            if restrict is not None:
                idx = np.clip(
                    np.searchsorted(restrict, cand), 0, restrict.size - 1
                )
                hit = restrict[idx] == cand
                cand, cand_dl = cand[hit], cand_dl[hit]
                if cand.size == 0:
                    return None
        else:
            idx = np.clip(np.searchsorted(d, cand), 0, d.size - 1)
            hit = d[idx] == cand
            cand, cand_dl = cand[hit], cand_dl[hit]
            if cand.size == 0:
                return None
    # one grouping rule for the engine: phrase_repeats.repeat_groups
    # (the oracle keeps its own deliberately-independent copy)
    rpt_groups = repeat_groups([int(t) for t in tid_order])
    if rpt_groups:
        # a repeated term needs one DISTINCT occurrence per leg: docs
        # with tf < multiplicity can never match — drop them before the
        # (repeats: per-doc) matching walk
        keep = np.ones(cand.size, dtype=bool)
        for g in rpt_groups:
            tid = int(tid_order[g[0]])
            d, tf, _ = decoded[tid]
            idx = np.clip(np.searchsorted(d, cand), 0, d.size - 1)
            keep &= tf[idx] >= len(g)
        cand, cand_dl = cand[keep], cand_dl[keep]
        if cand.size == 0:
            return None
    legs = []
    for off, tid in enumerate(int(t) for t in tid_order):
        d, tf, flat_pos = decoded[tid]
        occ_doc = np.repeat(d, tf)
        idx = np.clip(np.searchsorted(cand, occ_doc), 0, max(cand.size - 1, 0))
        keep = cand[idx] == occ_doc
        legs.append((idx[keep], flat_pos[keep] - off))
    if slop == 0 or len(tid_order) == 1:
        # one leg: every occurrence matches with matchLength 0 (Lucene
        # rewrites a 1-term PhraseQuery to a TermQuery), so the exact
        # group-count — which degenerates to ptf = tf for k == 1 —
        # already gives the right sloppy freq
        doc_rank, ptf = _exact_freqs(legs, cand.size)
    elif rpt_groups:
        doc_rank, ptf = _sloppy_freqs_repeats(legs, rpt_groups, slop,
                                              cand.size)
    else:
        doc_rank, ptf = _sloppy_freqs_k(legs, slop, cand.size)
    if doc_rank.size == 0:
        return None
    return cand[doc_rank], ptf, cand_dl[doc_rank]
