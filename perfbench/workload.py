"""Seeded inputs for the benchmark: the transcript corpus and the query
streams.  Everything here is a pure function of the workload seed, so the
same seed gives the same corpus, the same query pool and the same stream.

The corpus is generated with numpy (no Spark), so its cost is the same
whatever the engine does, and so the benchmark can derive term document
frequencies from the generator's own token ids, never from the engine's
output.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

HEAD = [
    "the", "and", "error", "run", "test", "file", "data", "query", "spark",
    "index", "search", "token", "build", "user", "tool", "call", "result",
    "code", "line", "term", "doc", "scan", "join", "sort", "hash", "block",
    "merge", "score", "rank", "shard",
]
ROLES = np.array(["user", "assistant", "tool"], dtype=object)
TOOLS = np.array(["search", "bash", "read", ""], dtype=object)
VOCAB = 20_000  # body terms w1..wV after the head terms
ZIPF_S = 1.05
EPOCH = pd.Timestamp("2026-01-01", tz="UTC")

K = 10  # top-k of every serving query


def term(rank: int) -> str:
    """Token for a 0-based vocabulary rank: head words first, then w<r>."""
    return HEAD[rank] if rank < len(HEAD) else f"w{rank - len(HEAD) + 1}"


class Corpus:
    """A seeded transcript table plus its per-term document frequencies."""

    def __init__(self, n_turns: int, seed: int):
        rng = np.random.default_rng([seed, 1])
        n_terms = len(HEAD) + VOCAB
        # zipf-like rank distribution (shifted so the head is not one word)
        w = 1.0 / np.power(np.arange(n_terms) + 2.7, ZIPF_S)
        cdf = np.cumsum(w / w.sum())
        n_tok = rng.integers(5, 61, size=n_turns)
        offsets = np.concatenate(([0], np.cumsum(n_tok)))
        ranks = np.minimum(
            np.searchsorted(cdf, rng.random(int(offsets[-1]))), n_terms - 1
        )
        words = np.array([term(r) for r in range(n_terms)], dtype=object)
        toks = words[ranks]
        text = [" ".join(toks[offsets[i]:offsets[i + 1]]) for i in range(n_turns)]
        # conversations of 1..12 turns; keys (conv_id, turn_idx) are unique
        conv_len = rng.integers(1, 13, size=n_turns)
        starts = np.concatenate(([0], np.cumsum(conv_len)))
        starts = starts[starts < n_turns]
        conv = np.repeat(np.arange(len(starts)), np.diff(np.append(starts, n_turns)))
        turn_idx = np.arange(n_turns) - starts[conv]
        pick = rng.integers(0, 12, size=(n_turns, 2))
        self.table = pd.DataFrame({
            "conv_id": [f"conv{c:07d}" for c in conv],
            "turn_idx": turn_idx.astype(np.int32),
            "role": ROLES[pick[:, 0] % 3],
            "text": text,
            "tool": TOOLS[pick[:, 1] % 4],
            "ts": EPOCH + pd.to_timedelta(np.arange(n_turns), unit="s"),
        })
        doc = np.repeat(np.arange(n_turns), n_tok)
        pairs = np.unique(doc.astype(np.int64) * n_terms + ranks)
        self.df = np.bincount(pairs % n_terms, minlength=n_terms)
        self.n_turns = n_turns
        self.text_bytes = int(sum(len(t.encode()) for t in text))

    def write_parquet(self, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        # Spark reads microsecond timestamps only
        pq.write_table(
            pa.Table.from_pandas(self.table, preserve_index=False), path,
            coerce_timestamps="us",
        )

    def band(self, lo: float, hi: float) -> np.ndarray:
        """Ranks of terms whose df lies in [lo, hi] (absolute counts)."""
        return np.flatnonzero((self.df >= lo) & (self.df <= hi))


def _t(r) -> dict:
    return {"term": {"field": "text", "value": term(int(r))}}


def hot_pool(c: Corpus) -> list[dict]:
    """About 100 JSON-DSL queries over head, mid and rare terms, covering
    every kernel shape the in-process tier serves.  Each entry is
    {"q": dsl, "page": p}; all are top-K.

    Terms are taken at evenly spaced df quantiles of their band and the
    head words, range bounds and wildcard patterns are fixed, so every
    seed's pool has the same shapes at nearly the same document
    frequencies: the seed changes the corpus, and with it which words
    those are.  The pool is ordered round-robin over its shape groups,
    so the Zipf weights of hot_stream fall on the same shapes too."""
    n = c.n_turns
    mid = c.band(max(20, n * 0.01), n * 0.03)
    rare = c.band(3, 30)
    for name, b in (("mid", mid), ("rare", rare)):
        if len(b) < 24:
            raise ValueError(f"corpus too small: only {len(b)} {name} terms")
    mid = mid[np.argsort(c.df[mid], kind="stable")]
    rare = rare[np.argsort(c.df[rare], kind="stable")]
    phase = iter(np.arange(1, 40) * 0.618 % 1.0)

    def spread(band, n_q, per_q=1):
        """n_q lists of per_q terms at evenly spaced df quantiles."""
        m = n_q * per_q
        idx = ((np.arange(m) + next(phase)) / m * len(band)).astype(int)
        ts = [_t(r) for r in band[idx]]
        return [ts[i::n_q] for i in range(n_q)]

    def head(i):
        return _t(i % len(HEAD))

    def dv_range(i):
        lo = i % 6
        return {"range": {"field": "turn_idx", "min": lo, "max": lo + 1 + i % 4}}

    q = lambda dsl, page=0: {"q": dsl, "page": page}  # noqa: E731
    groups = [
        [q(head(i)) for i in range(8)],
        [q(t) for t, in spread(mid, 12)],
        [q(t) for t, in spread(rare, 10)],
        [q(t, page=1) for t, in spread(mid, 4)],
        [q({"bool": {"must": [head(3 * i + 1), t]}})
         for i, (t,) in enumerate(spread(mid, 8))],
        [q({"bool": {"must": [head(3 * i), head(3 * i + 1), head(3 * i + 2)]}})
         for i in range(4)],
        [q({"bool": {"should": ts[:2 + i % 2]}})
         for i, ts in enumerate(spread(mid, 8, 3))],
        [q({"bool": {"should": ts, "minimum-should-match": 2}})
         for ts in spread(mid, 6, 3)],
        [q({"bool": {"must": [t], "must-not": [head(i)]}})
         for i, (t,) in enumerate(spread(mid, 6))],
        [q({"dis-max": {"queries": ts[:2 + i % 2], "tie-breaker": 0.1 * (i % 3)}})
         for i, ts in enumerate(spread(mid, 6, 3))],
        [q({"filtered": {"query": t, "filter": dv_range(i)}})
         for i, (t,) in enumerate(spread(mid, 6))],
        [q({"bool": {"must": [head(2 * i + 5), dv_range(i + 3)]}}) for i in range(6)],
        # w1?? .. w4??: about 100 expansions each; w<NN>?: about 10
        [q({"wildcard": {"field": "text", "value": f"w{i + 1}??"}}) for i in range(4)],
        [q({"bool": {"must": [head(i + 2), {"wildcard": {
            "field": "text", "value": f"w{13 + 21 * i}?"}}]}}) for i in range(4)],
        [q({"bool": {"should": [r, m], "must-not": [x]}})
         for (r, x), (m,) in zip(spread(rare, 4, 2), spread(mid, 4))],
    ]
    return [g[i] for i in range(max(map(len, groups))) for g in groups if i < len(g)]


ZIPF_STREAM_S = 0.5
ROUND = 200  # calls per round of the hot stream


def hot_stream(pool: list[dict], seed: int, n_rounds: int) -> np.ndarray:
    """Pool indexes in rounds of ROUND calls.  Every round holds each query
    as often as its Zipf weight over the pool order gives (largest
    remainder, at least once), shuffled by the seed.  So some queries
    repeat more often than others, every query recurs, and the mix of
    shapes is the same in every round: a random draw would move the share
    of the slowest shapes, and with it the tail percentile, from seed to
    seed."""
    rng = np.random.default_rng([seed, 3])
    w = 1.0 / np.power(np.arange(1, len(pool) + 1), ZIPF_STREAM_S)
    want = w / w.sum() * ROUND
    counts = np.maximum(np.floor(want).astype(int), 1)
    short = ROUND - counts.sum()
    if short > 0:
        counts[np.argsort(counts - want, kind="stable")[:short]] += 1
    one = np.repeat(np.arange(len(pool)), counts)
    return np.concatenate([rng.permutation(one) for _ in range(n_rounds)])


class TailStream:
    """Queries of 1, 2, 3, 1, 2, 3... tail terms (df <= max_df) sampled
    WITHOUT replacement from the corpus dictionary, so no term repeats
    within a run: every dictionary lookup and block fetch is a first
    touch.  A stream never wraps around; callers check it is long enough."""

    def __init__(self, c: Corpus, seed: int, max_df: int = 30):
        rng = np.random.default_rng([seed, 4])
        self.terms = rng.permutation(c.band(1, max_df))
        self.pos = 0

    def take(self, n: int) -> list[dict]:
        """Up to n queries: fewer only when the vocabulary runs out."""
        out: list[dict] = []
        while len(out) < n:
            k = 1 + len(out) % 3
            if self.pos + k > len(self.terms):
                break
            rs = self.terms[self.pos:self.pos + k]
            self.pos += k
            q = _t(rs[0]) if k == 1 else {"bool": {"should": [_t(r) for r in rs]}}
            out.append({"q": q, "page": 0})
        return out
