"""Positional postings + phrase queries (Lucene PhraseQuery semantics,
reference src/bzzz/queries/query_parser.clj:6-17 — quoted strings in the
classic parser).  Parity is asserted against the pure-Python oracle's
position-aware scorer; the codec roundtrip is asserted value-exactly."""

import math

import numpy as np
import pytest
from pyspark.sql.functions import col as F_col, lit as F_lit

from bzzz_spark.build.codec import decode_positions, encode_positions
from bzzz_spark.build.indexer import IndexConfig, build_index
from bzzz_spark.query import ast
from bzzz_spark.query.executor import search
from bzzz_spark.query.parser import parse_query_string


# ------------------------------------------------------------------- codec


def test_positions_codec_roundtrip():
    rng = np.random.RandomState(7)
    tfs = rng.randint(1, 9, size=50)
    flat = np.concatenate(
        [np.sort(rng.choice(200, size=t, replace=False)) for t in tfs]
    )
    buf = encode_positions(flat, tfs)
    out = decode_positions(buf, tfs)
    assert out.tolist() == flat.tolist()


def test_positions_codec_edges():
    assert encode_positions(np.array([], dtype=np.int64), np.array([], dtype=np.int64)) == b""
    assert decode_positions(b"", np.array([], dtype=np.int64)).size == 0
    # single posting, position 0
    buf = encode_positions(np.array([0]), np.array([1]))
    assert decode_positions(buf, np.array([1])).tolist() == [0]
    # resets: second posting starts below the first's last position
    flat = np.array([5, 9, 2, 3])
    tfs = np.array([2, 2])
    assert decode_positions(encode_positions(flat, tfs), tfs).tolist() == [5, 9, 2, 3]
    with pytest.raises(ValueError):
        encode_positions(np.array([1, 2]), np.array([1]))


# ---------------------------------------------------------------- index+query


@pytest.fixture(scope="module")
def pos_index(spark, small_transcripts):
    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    store_positions=True),
    )
    idx.postings.cache().count()
    idx.docs.cache().count()
    return idx


def _bigram(small_oracle):
    """A bigram that actually occurs in the corpus (from a mid doc)."""
    from bzzz_spark.analysis.tokenizer import py_tokenize

    for d in small_oracle.docs:
        toks = py_tokenize(d["text"])
        if len(toks) >= 4:
            return toks[1], toks[2]
    raise RuntimeError("corpus too small")


def _assert_phrase_parity(pos_index, small_oracle, node, size=10):
    got = [
        (r["docid"], r["score"])
        for r in search(pos_index, node, size=size).collect()
    ]
    want = small_oracle.search(node, size=size)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9)
    return got


def test_phrase_matches_oracle(pos_index, small_oracle):
    a, b = _bigram(small_oracle)
    got = _assert_phrase_parity(pos_index, small_oracle, ast.Phrase([a, b]))
    assert got, f"phrase '{a} {b}' should match at least its source doc"


def test_phrase_is_stricter_than_and(pos_index, small_oracle):
    a, b = _bigram(small_oracle)
    n_phrase = len(small_oracle.execute(ast.Phrase([a, b])))
    n_and = len(small_oracle.execute(ast.Bool(must=[ast.Term(a), ast.Term(b)])))
    assert 0 < n_phrase <= n_and
    got = search(pos_index, ast.Phrase([a, b]), size=1000).count()
    assert got == n_phrase


def test_phrase_reversed_usually_absent(pos_index, small_oracle):
    a, b = _bigram(small_oracle)
    _assert_phrase_parity(pos_index, small_oracle, ast.Phrase([b, a]))


def test_phrase_three_terms_and_boost(pos_index, small_oracle):
    from bzzz_spark.analysis.tokenizer import py_tokenize

    for d in small_oracle.docs:
        toks = py_tokenize(d["text"])
        if len(toks) >= 5:
            tri = toks[0:3]
            break
    _assert_phrase_parity(
        pos_index, small_oracle, ast.Phrase(tri, boost=2.5)
    )


def test_phrase_missing_term_matches_nothing(pos_index, small_oracle):
    node = ast.Phrase(["the", "zzzznotaterm"])
    assert search(pos_index, node, size=10).count() == 0
    assert small_oracle.execute(node) == {}


def test_phrase_via_query_parser(pos_index, small_oracle):
    a, b = _bigram(small_oracle)
    node = parse_query_string(f'"{a} {b}"')
    assert node == ast.Phrase([a, b], "text", 1.0)
    _assert_phrase_parity(pos_index, small_oracle, node)


def test_phrase_without_positions_raises(small_index):
    with pytest.raises(ValueError, match="store_positions"):
        search(small_index, ast.Phrase(["the", "data"]), size=5).collect()


def test_positions_content_matches_oracle(pos_index, small_oracle):
    """Decode EVERY posting's positions and compare with the oracle's
    token offsets — the codec+build roundtrip at full coverage."""
    from bzzz_spark.query.blocks import Blocks, decode

    tid_of = {
        r["term"]: r["term_id"] for r in pos_index.dictionary.collect()
    }
    terms = ["the", "data", "error"]
    tids = [tid_of[t] for t in terms if t in tid_of]
    pdf = pos_index.postings.filter(F_col("term_id").isin(tids)).toPandas()
    b = Blocks.from_frame(pdf)
    dec = decode(b, np.arange(len(pdf)), positions=True)
    per_posting = np.split(dec.pos, np.cumsum(dec.tf)[:-1])
    got = {}
    for tid, d, pos in zip(np.repeat(b.term_id, b.count), dec.d, per_posting):
        got.setdefault(int(tid), {})[int(d)] = pos.tolist()
    for t in terms:
        if t not in tid_of:
            continue
        want = small_oracle.positions.get(t, {})
        assert got.get(tid_of[t], {}) == want


# ------------------------------------------------- A13 position filter


def test_position_filter_column(spark):
    from bzzz_spark.analysis.analyzers import flt_position, tok_whitespace

    df = spark.createDataFrame([("a b c",)], "text string")
    out = df.select(
        flt_position(tok_whitespace(F_col("text")), 0).alias("p0"),
        flt_position(tok_whitespace(F_col("text")), 2).alias("p2"),
    ).collect()[0]
    assert [(r["term"], r["pos"]) for r in out["p0"]] == [
        ("a", 0), ("b", 0), ("c", 0)
    ]
    assert [(r["term"], r["pos"]) for r in out["p2"]] == [
        ("a", 0), ("b", 2), ("c", 4)
    ]


def test_build_tf_positioned_stacked_positions(spark):
    """Increment 0 stacks every token at position 0 — tf still counts
    occurrences, positions keep duplicates (Lucene same-position
    postings)."""
    from bzzz_spark.analysis.analyzers import flt_position, tok_whitespace
    from bzzz_spark.build.indexer import build_tf_positioned

    df = spark.createDataFrame([(0, "x y x",)], "docid long, text string")
    docs = df.select(
        "docid", F_lit(3).alias("dl"),
        flt_position(tok_whitespace(F_col("text")), 0).alias("ptokens"),
    )
    rows = {r["term"]: r for r in build_tf_positioned(docs).collect()}
    assert rows["x"]["tf"] == 2 and list(rows["x"]["positions"]) == [0, 0]
    assert rows["y"]["tf"] == 1 and list(rows["y"]["positions"]) == [0]


def test_html_strip_escaped_tags(spark):
    from bzzz_spark.analysis.analyzers import html_strip

    df = spark.createDataFrame(
        [("<div>keep <b>bold</b> and <i>ital</i> drop <span>s</span></div>",)],
        "text string",
    )
    out = df.select(
        html_strip(F_col("text")).alias("all"),
        html_strip(F_col("text"), ("b", "i")).alias("wl"),
    ).collect()[0]
    assert "<" not in out["all"]
    assert "<b>bold</b>" in out["wl"] and "<i>ital</i>" in out["wl"]
    assert "<div>" not in out["wl"] and "<span>" not in out["wl"]


# ----------------------------------------------------------------- slop


def test_sloppy_phrase_matches_oracle(pos_index, small_oracle):
    """Lucene sloppy-phrase parity vs the oracle's heapq PQ walk, and
    monotonicity: widening slop can only grow the match set."""
    a, b = _bigram(small_oracle)
    prev_docs: set = set()
    for s in (0, 1, 2, 4):
        node = ast.Phrase([a, b], slop=s)
        got = _assert_phrase_parity(pos_index, small_oracle, node, size=1000)
        docs = {d for d, _ in got}
        assert prev_docs <= docs, f"slop={s} lost matches vs smaller slop"
        prev_docs = docs


def test_sloppy_phrase_gap_document(spark):
    """Hand-built corpus: 'alpha X beta' matches "alpha beta"~1 but not
    slop 0; reversed 'beta alpha' needs slop >= 2 (Lucene's unordered
    slop: adjusted positions 1 and -1, matchLength 2)."""
    import pandas as pd
    from bzzz_spark.fixtures import to_spark

    pdf = pd.DataFrame(
        {
            "conv_id": ["c1", "c1", "c1"],
            "turn_idx": [0, 1, 2],
            "role": ["user"] * 3,
            "text": [
                "alpha filler beta",     # gap 1
                "alpha beta",            # adjacent
                "beta alpha",            # reversed
            ],
            "tool": [""] * 3,
            "ts": pd.to_datetime(["2026-01-01"] * 3),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(num_partitions=1, store_positions=True),
    )
    def docs_for(slop):
        return {
            r["turn_idx"]
            for r in search(
                idx, ast.Phrase(["alpha", "beta"], slop=slop), size=10,
                fields=["turn_idx"],
            ).collect()
        }
    assert docs_for(0) == {1}
    assert docs_for(1) == {0, 1}
    assert docs_for(2) == {0, 1, 2}  # reversed matches at slop >= 2
    assert docs_for(5) == {0, 1, 2}


def test_trigram_slop_chain(spark):
    """3-term chain: each term may lag ≤ slop behind its slot."""
    import pandas as pd
    from bzzz_spark.fixtures import to_spark

    pdf = pd.DataFrame(
        {
            "conv_id": ["c1"] * 3,
            "turn_idx": [0, 1, 2],
            "role": ["user"] * 3,
            "text": [
                "one two three",
                "one x two y three",   # each gap 1 → total lag 2 at term 3
                "one x x two three",
            ],
            "tool": [""] * 3,
            "ts": pd.to_datetime(["2026-01-01"] * 3),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(num_partitions=1, store_positions=True),
    )
    node = lambda s: ast.Phrase(["one", "two", "three"], slop=s)  # noqa: E731
    hits = lambda s: {  # noqa: E731
        r["turn_idx"]
        for r in search(idx, node(s), size=10, fields=["turn_idx"]).collect()
    }
    assert hits(0) == {0}
    # doc1 "one x two y three": two lags 1 (ok at s=1) but three lags 2;
    # doc2 "one x x two three": two lags 2 — both need s ≥ 2
    assert hits(1) == {0}
    assert hits(2) == {0, 1, 2}


def test_parser_slop_syntax():
    node = parse_query_string('"alpha beta"~2^3', default_field="text")
    assert node == ast.Phrase(["alpha", "beta"], "text", 3.0, slop=2)
    node = parse_query_string('"alpha beta"~1', default_field="text")
    assert node == ast.Phrase(["alpha", "beta"], "text", 1.0, slop=1)


def test_single_term_phrase_all_slops(pos_index, small_oracle):
    """A 1-term phrase degenerates to a term match with ptf = tf at ANY
    slop (Lucene rewrites it to a TermQuery) — it must not crash the
    sloppy kernels, and engine/oracle must agree."""
    for slop in (0, 1, 3):
        node = ast.Phrase(["error"], slop=slop)
        got = [(r["docid"], round(r["score"], 9)) for r in
               search(pos_index, node, size=10).collect()]
        want = [(d, round(s, 9))
                for d, s in small_oracle.search(node, size=10)]
        assert got == want, slop
        assert got, "single-term phrase found nothing"


# -------------------------------------------- kernel-level block pruning


def test_phrase_kernel_prunes_head_term_blocks(spark):
    """The scale guarantee (VERDICT r2 #2): a phrase anchored by a rare
    term must NOT decode the head term's full position lists — decoded
    block count for the head term is bounded by the rare term's
    candidate ranges, mirroring the leapfrog of ref
    TermPayloadClojureScoreQuery.java:237-257 at block granularity."""
    import pandas as pd
    from bzzz_spark.fixtures import to_spark
    from bzzz_spark.query.blocks import Blocks
    from bzzz_spark.query.phrase import phrase_arrays

    # 200 docs all containing 'head'; 'rare head' occurs in exactly 2
    texts = []
    for i in range(200):
        base = f"head filler{i % 7} head word{i % 13} head"
        if i in (60, 140):
            base = "rare head " + base
        texts.append(base)
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(200)],
            "turn_idx": [0] * 200,
            "role": ["user"] * 200,
            "text": texts,
            "tool": [""] * 200,
            "ts": pd.to_datetime(["2026-01-01"] * 200),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(block_size=8, segment_size=1 << 14, num_partitions=1,
                    store_positions=True),
    )
    tid_of = {r["term"]: r["term_id"] for r in idx.dictionary.collect()}
    tids = [tid_of["rare"], tid_of["head"]]
    blocks = idx.postings.filter(
        F_col("term_id").isin([int(t) for t in tids])
    ).toPandas()
    stats: dict = {}
    docids, _ptf, _dl = phrase_arrays(Blocks.from_frame(blocks), tids,
                                      slop=0, stats=stats)
    assert sorted(docids.tolist()) == sorted(
        r["docid"] for r in search(
            idx, ast.Phrase(["rare", "head"]), size=100
        ).collect()
    )
    head_tid = tid_of["head"]
    assert stats["total_blocks"][head_tid] >= 25  # 200 docs / 8 per block
    # 2 candidate docs -> at most 2 head blocks decoded
    assert stats["decoded_blocks"][head_tid] <= 2, stats
    assert stats["decoded_blocks"][tid_of["rare"]] == stats["total_blocks"][
        tid_of["rare"]
    ]


def test_sloppy_kernels_cross_check_pure():
    """Engine vectorized sloppy kernels vs the oracle's independent
    heapq port of SloppyPhraseScorer — dense randomized sweep, no
    Spark."""
    import math
    import random

    from bzzz_spark.oracle.pyoracle import _sloppy_phrase_freq
    from bzzz_spark.query.phrase import _sloppy_freq_one, _sloppy_freqs_k

    rng = random.Random(7)
    for _ in range(500):
        na, nb = rng.randint(1, 6), rng.randint(1, 6)
        adj_a = sorted(rng.sample(range(0, 20), na))
        adj_b = [p - 1 for p in sorted(rng.sample(range(0, 20), nb))]
        slop = rng.randint(1, 6)
        want = _sloppy_phrase_freq([adj_a, adj_b], slop)
        la = (np.zeros(na, dtype=np.int64), np.array(adj_a, dtype=np.int64))
        lb = (np.zeros(nb, dtype=np.int64), np.array(adj_b, dtype=np.int64))
        dr, f = _sloppy_freqs_k([la, lb], slop, 1)
        got = float(f[0]) if dr.size else 0.0
        assert math.isclose(got, want, abs_tol=1e-12), (adj_a, adj_b, slop)
    for _ in range(500):
        k = rng.randint(3, 4)
        adj = [
            [p - i for p in sorted(rng.sample(range(0, 25), rng.randint(1, 5)))]
            for i in range(k)
        ]
        slop = rng.randint(1, 8)
        want = _sloppy_phrase_freq(adj, slop)
        got = _sloppy_freq_one(
            [np.array(l, dtype=np.int64) for l in adj], slop
        )
        assert math.isclose(got, want, abs_tol=1e-12), (adj, slop)
    # batched k-walk (_sloppy_freqs_k) vs the per-doc reference walk on
    # multi-doc batches — the round-4 vectorization must be a pure
    # speedup, bit-identical per doc
    for _ in range(120):
        k = rng.randint(3, 5)
        n_docs = rng.randint(1, 8)
        per_doc = [
            [
                [p - i for p in
                 sorted(rng.sample(range(0, 25), rng.randint(1, 5)))]
                for i in range(k)
            ]
            for _d in range(n_docs)
        ]
        slop = rng.randint(1, 8)
        legs = []
        for i in range(k):
            dr = np.concatenate(
                [np.full(len(per_doc[d][i]), d, dtype=np.int64)
                 for d in range(n_docs)]
            )
            aj = np.concatenate(
                [np.array(per_doc[d][i], dtype=np.int64)
                 for d in range(n_docs)]
            )
            legs.append((dr, aj))
        dr_got, f_got = _sloppy_freqs_k(legs, slop, n_docs)
        got_map = dict(zip(dr_got.tolist(), f_got.tolist()))
        for d in range(n_docs):
            want = _sloppy_freq_one(
                [np.array(l, dtype=np.int64) for l in per_doc[d]], slop
            )
            assert math.isclose(got_map.get(d, 0.0), want, abs_tol=1e-12), (
                per_doc[d], slop,
            )


def test_sloppy_repeats_hand_checked():
    """Lucene repeating-terms walk, hand-simulated expectations:
    two legs of one term must claim DISTINCT token occurrences."""
    import math

    from bzzz_spark.oracle.pyoracle import _sloppy_phrase_freq_repeats
    from bzzz_spark.query.phrase_repeats import (
        repeat_groups,
        sloppy_freq_repeats,
    )

    def both(terms, occ, slop):
        adj = [[p - j for p in occ[t]] for j, t in enumerate(terms)]
        g = repeat_groups(terms)
        a = sloppy_freq_repeats([np.array(l) for l in adj], g, slop)
        b = _sloppy_phrase_freq_repeats(adj, g, slop)
        assert math.isclose(a, b, abs_tol=1e-12), (terms, occ, slop, a, b)
        return a

    # "a a" on 'a a a': two adjacent matches, matchLength 0 each
    assert both(["a", "a"], {"a": [0, 1, 2]}, 1) == 2.0
    # "a a" on occurrences 0 and 5: slack 4 -> only within slop >= 4
    assert both(["a", "a"], {"a": [0, 5]}, 0) == 0.0
    assert math.isclose(both(["a", "a"], {"a": [0, 5]}, 4), 0.2)
    # one occurrence cannot serve two legs, any slop
    assert both(["a", "a"], {"a": [3]}, 9) == 0.0
    # "a b a" on 'a b a' exactly
    assert both(["a", "b", "a"], {"a": [0, 2], "b": [1]}, 0) == 1.0
    # "a b a" on 'a b x a': one slack position
    assert both(["a", "b", "a"], {"a": [0, 3], "b": [1]}, 0) == 0.0
    assert math.isclose(both(["a", "b", "a"], {"a": [0, 3], "b": [1]}, 1),
                        0.5)


def test_sloppy_repeats_ports_cross_check():
    """Engine walk (set + argmin scan) vs the oracle's independent
    heapq port over dense random repeated-term phrases — the two
    implementations of Lucene's repeating-terms machinery must agree
    everywhere."""
    import math
    import random

    from bzzz_spark.oracle.pyoracle import _sloppy_phrase_freq_repeats
    from bzzz_spark.query.phrase_repeats import (
        repeat_groups,
        sloppy_freq_repeats,
    )

    rng = random.Random(7)
    tested = 0
    while tested < 800:
        k = rng.randint(2, 5)
        terms = [rng.choice("abc") for _ in range(k)]
        if len(set(terms)) == len(terms):
            continue
        slop = rng.randint(0, 6)
        occ = {
            t: sorted(rng.sample(range(0, 25), rng.randint(1, 7)))
            for t in set(terms)
        }
        adj = [[p - j for p in occ[t]] for j, t in enumerate(terms)]
        g = repeat_groups(terms)
        a = sloppy_freq_repeats([np.array(l) for l in adj], g, slop)
        b = _sloppy_phrase_freq_repeats(adj, g, slop)
        assert math.isclose(a, b, abs_tol=1e-9), (terms, occ, slop, a, b)
        tested += 1


def test_sloppy_repeated_terms_full_stack(pos_index, small_oracle):
    """Repeated-term sloppy phrases through search() — rank + score
    parity vs the oracle's independent execution path (which builds
    its collision groups from node.terms on its own)."""
    from bzzz_spark.analysis.tokenizer import py_tokenize

    # corpus-derived repeated-term phrases so positive matches exist:
    # take a real token and phrase it with itself / around a neighbor
    seen = 0
    for d in small_oracle.docs:
        toks = py_tokenize(d["text"])
        if len(toks) < 3:
            continue
        t0, t1 = toks[0], toks[1]
        for node in (
            ast.Phrase([t0, t0], slop=2),
            ast.Phrase([t0, t1, t0], slop=3),
            ast.Phrase([t1, t1], slop=5),
            # inside a conjunction: the WAND mixed-conjunction kernel
            # hands the repeats-phrase a restricted candidate stream
            ast.Bool(must=[ast.Term(t1), ast.Phrase([t0, t0], slop=4)]),
        ):
            got = _assert_phrase_parity(pos_index, small_oracle, node,
                                        size=20)
            seen += len(got)
        if seen:
            break
    # at least one of the probes must have matched somewhere, or the
    # test silently exercised only empty result sets
    assert seen > 0


# ------------------------------------------------------- randomized fuzz

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.integers(0, 10 ** 6), st.integers(2, 3), st.integers(0, 3),
       st.booleans())
def test_random_corpus_phrases_match_oracle(
    pos_index, small_oracle, seed, n_terms, slop, shuffle
):
    """Random corpus n-grams (and their shuffled variants) as phrases at
    random slop: rank + score parity between the engine's vectorized
    kernels and the oracle's independent heapq PQ walk.  Shuffled
    n-grams probe the unordered-slop reordering semantics; corpus
    n-grams guarantee the positive-match path is exercised."""
    from bzzz_spark.analysis.tokenizer import py_tokenize

    docs = [d for d in small_oracle.docs if d["dl"] >= n_terms + 2]
    d = docs[seed % len(docs)]
    toks = py_tokenize(d["text"])
    start = seed % (len(toks) - n_terms)
    terms = toks[start : start + n_terms]
    if shuffle:
        terms = terms[::-1]
    node = ast.Phrase(terms, slop=slop)
    _assert_phrase_parity(pos_index, small_oracle, node, size=50)
