"""The conjunction kernel (query.wand._and_topk) over one segment built
by the build's own encoder, without Spark: whichever clause kind leads,
answers equal the exhaustive plan's, a term lead prunes under θ, and a
phrase clause counts its blocks once per segment however often it is
matched."""

from fnmatch import fnmatch
from types import SimpleNamespace

import numpy as np
import pandas as pd

from bzzz_spark.build.indexer import IndexConfig, _make_block_encoder
from bzzz_spark.query import ast, blocks, evaluate, phrase, wand
from bzzz_spark.query.blocks import impacts_max_tfc

N_DOCS = 200  # 4 postings a block: a term in every doc has 50 blocks


class _Index:
    """What the planners read of an index, over one segment's blocks:
    config, postings columns, (N, avgdl) and the dictionary."""

    def __init__(self, words: list[str], docs: list[list[int]]):
        self.config = IndexConfig(block_size=4, segment_size=256,
                                  store_positions=True)
        self.n_docs = len(docs)
        self.avgdl = sum(map(len, docs)) / len(docs)
        self.terms = {w: (t, sum(t in toks for toks in docs))
                      for t, w in enumerate(words)}
        rows = [(t, 0, d, toks.count(t), len(toks),
                 np.array([i for i, x in enumerate(toks) if x == t]))
                for t in range(len(words)) for d, toks in enumerate(docs)
                if t in toks]
        pdf = pd.DataFrame(rows, columns=["term_id", "segment", "docid", "tf",
                                          "dl", "positions"])
        enc = _make_block_encoder(self.config)
        self.blocks = pd.concat(list(enc(iter([pdf]))), ignore_index=True)
        self.blocks["max_tfc"] = impacts_max_tfc(
            self.blocks["impacts"].to_numpy(), self.avgdl)
        self.postings = SimpleNamespace(columns=list(self.blocks.columns))

    def scalar_stats(self):
        return self.n_docs, self.avgdl

    def lookup_terms(self, keys):
        return {k: self.terms[k] for k in keys if k in self.terms}

    def expand_candidates(self, patterns, prefixes):
        return [sorted(w for w in self.terms if fnmatch(w, p.value))
                for p in patterns]


def _run(monkeypatch, index: _Index, node: ast.Query, k: int):
    """(kernel answer, exhaustive answer, kernel block counts): the
    stats come from blocks.tally as the kernel and phrase modules call
    it."""
    stats: dict = {}

    def count(_stats, field, key, n):
        blocks.tally(stats, field, key, n)

    monkeypatch.setattr(wand, "tally", count)
    monkeypatch.setattr(phrase, "tally", count)
    plan = wand.plan_candidates(index, node, k)
    assert plan is not None and not plan.empty, node
    got = plan.kernel(index.blocks)
    monkeypatch.undo()
    want = evaluate.plan_exhaustive(index, node, k).kernel(index.blocks)
    return got, want, stats


def _same(got: pd.DataFrame, want: pd.DataFrame) -> None:
    o = np.lexsort((got["docid"].to_numpy(), -got["score"].to_numpy()))
    w = np.lexsort((want["docid"].to_numpy(), -want["score"].to_numpy()))
    assert np.array_equal(got["docid"].to_numpy()[o], want["docid"].to_numpy()[w])
    assert np.array_equal(got["score"].to_numpy()[o], want["score"].to_numpy()[w])


def test_term_lead_prunes_set_and_group_conjuncts(monkeypatch):
    """'lead' (200 postings) leads a set or a group over s1 and s2 (400
    postings).  Its first chunk, docs 0-31, holds its tf-2 blocks, so
    with k = 1 θ passes every later block's bound (w · max_tfc plus the
    conjunct's bound) after 8 of its 50 blocks."""
    docs = [[0, 0, 1, 2, 3, 3] if d < 32 else [0, 1, 2, 3, 3, 3]
            for d in range(N_DOCS)]
    index = _Index(["lead", "s1", "s2", "pad"], docs)
    group = ast.Bool(should=[ast.Term("s1"), ast.Term("s2")])
    for conjunct in (ast.Wildcard("s*"), group):
        node = ast.Bool(must=[ast.Term("lead"), conjunct])
        got, want, stats = _run(monkeypatch, index, node, 1)
        _same(got, want)
        assert stats["total_blocks"][0] == 50, stats
        assert stats["decoded_blocks"][0] <= 8, stats


def test_phrase_counts_its_blocks_once_per_segment(monkeypatch):
    """A term in every doc runs in three chunks (8 + 16 + 26 blocks,
    k = 1000) and matches a phrase on each chunk's candidates: the
    phrase's legs count their blocks once, as an optional clause (legs
    in every tenth doc, 5 blocks each) and as a conjunct the term leads
    (legs in every doc, as many postings as the term)."""
    words = ["lead", "p1", "p2", "pad"]
    rare = _Index(words, [[0, 1, 2, 3] if d % 10 == 0 else [0, 3, 3, 3]
                          for d in range(N_DOCS)])
    dense = _Index(words, [[0, 1, 2, 3]] * N_DOCS)
    phr = ast.Phrase(["p1", "p2"])
    for index, node, legs in (
        (rare, ast.Bool(must=[ast.Term("lead")], should=[phr]), 5),
        (dense, ast.Bool(must=[ast.Term("lead"), phr]), 50),
    ):
        got, want, stats = _run(monkeypatch, index, node, 1000)
        _same(got, want)
        assert stats["decoded_blocks"][0] == 50, stats  # no θ at k = 1000
        for tid in (1, 2):
            assert stats["total_blocks"][tid] == legs, stats
            assert stats["decoded_blocks"][tid] == legs, stats
