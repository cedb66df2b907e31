"""Block-max WAND path: rank parity vs the oracle AND the exhaustive
executor (SURVEY.md §7 M5 — 'fallback exhaustive scorer kept for
cross-checking')."""

import math

import pytest

from bzzz_spark.query import ast
from bzzz_spark.query.executor import search
from bzzz_spark.query.wand import classify, wand_search

FLAT_QUERIES = [
    ast.Term("the"),
    ast.Term("zzz"),
    ast.Term("the", boost=2.0),
    ast.Bool(must=[ast.Term("error"), ast.Term("query")]),
    ast.Bool(must=[ast.Term("the"), ast.Term("and"), ast.Term("data")]),
    ast.Bool(should=[ast.Term("error"), ast.Term("query"), ast.Term("spark")]),
    ast.Bool(
        should=[ast.Term("error"), ast.Term("query"), ast.Term("spark")],
        minimum_should_match=2,
    ),
    ast.Bool(must=[ast.Term("the"), ast.Term("nosuchterm")]),
    ast.Term("nosuchterm"),
    # must_not rides the kernel (ReqExclScorer analog)
    ast.Bool(must=[ast.Term("error")], must_not=[ast.Term("query")]),
    ast.Bool(must=[ast.Term("error"), ast.Term("the")],
             must_not=[ast.Term("data"), ast.Term("nosuchterm")]),
    ast.Bool(should=[ast.Term("error"), ast.Term("query")],
             must_not=[ast.Term("data")]),
    ast.Bool(must=[ast.Term("error")], must_not=[ast.Term("the")]),
    ast.Bool(must=[ast.Term("error")], must_not=[ast.Term("error")]),
    # Wildcard/Fuzzy must_not: exclusion term SETS on the kernel's
    # neg_tids union (round 4, late)
    ast.Bool(must=[ast.Term("error")], must_not=[ast.Wildcard("qu*")]),
    ast.Bool(should=[ast.Term("error"), ast.Term("query")],
             must_not=[ast.Fuzzy("teh", max_edits=1)]),
    ast.Bool(must=[ast.Term("error")],
             must_not=[ast.Wildcard("zzznope*")]),  # OOV: excludes nothing
    # Wildcard/Fuzzy should clauses under must (ReqOptSumScorer with
    # constant-score optional sets, round 4, late)
    ast.Bool(must=[ast.Term("error")],
             should=[ast.Term("query"), ast.Wildcard("sp*", boost=2.0)]),
    ast.Bool(must=[ast.Term("the")],
             should=[ast.Wildcard("err*"), ast.Term("query")],
             minimum_should_match=2),
    ast.Bool(must=[ast.Term("error")],
             should=[ast.Wildcard("zzznope*"), ast.Term("query")],
             minimum_should_match=2),  # OOV optional: unsatisfiable msm
    ast.Bool(must=[ast.Term("error")],
             should=[ast.Fuzzy("quer", max_edits=1), ast.Term("data")],
             must_not=[ast.Wildcard("zz*")]),
]


@pytest.mark.parametrize("i", range(len(FLAT_QUERIES)))
def test_wand_matches_oracle(small_index, small_oracle, i):
    node = FLAT_QUERIES[i]
    got = [(r["docid"], r["score"]) for r in
           wand_search(small_index, node, size=10).collect()]
    want = small_oracle.search(node, size=10)
    assert [d for d, _ in got] == [d for d, _ in want], (got, want)
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12)


@pytest.mark.parametrize("i", [0, 3, 5])
def test_wand_matches_exhaustive(small_index, i):
    node = FLAT_QUERIES[i]
    fast = [(r["docid"], round(r["score"], 9)) for r in
            search(small_index, node, size=10, use_wand=True).collect()]
    slow = [(r["docid"], round(r["score"], 9)) for r in
            search(small_index, node, size=10, use_wand=False).collect()]
    assert fast == slow


def test_wand_paging(small_index, small_oracle):
    got = [(r["docid"], r["score"]) for r in
           wand_search(small_index, ast.Term("the"), size=5, page=2).collect()]
    want = small_oracle.search(ast.Term("the"), size=5, page=2)
    assert [d for d, _ in got] == [d for d, _ in want]


def test_unsupported_shapes_fall_back(small_index):
    assert classify(ast.Bool(must=[ast.Bool(must=[ast.Term("a")])])) is None
    # Wildcard/Fuzzy must_not rides the kernel as an exclusion term set
    # (round 4, late); nested-Bool must_not still falls back
    assert classify(
        ast.Bool(must=[ast.Term("a")], must_not=[ast.Wildcard("b*")])
    ) is not None
    assert classify(
        ast.Bool(must=[ast.Term("a")],
                 must_not=[ast.Bool(must=[ast.Term("b")])])
    ) is None
    # Wildcard/Fuzzy should clauses mix with must (ReqOptSum optional
    # constant-score sets, round 4, late)
    assert classify(
        ast.Bool(must=[ast.Term("a")], should=[ast.Wildcard("b*")])
    ) is not None
    # flat must_not of terms is now kernel-handled
    assert classify(
        ast.Bool(must=[ast.Term("a")], must_not=[ast.Term("b")])
    ) is not None
    # Filtered over flat shapes rides the kernel now (round 4) ...
    assert classify(ast.Filtered(ast.Term("a"), ast.Term("b"))) is not None
    assert classify(
        ast.Filtered(ast.Term("a"), ast.Range("turn_idx", min=1))
    ) is not None
    # ... and so do filtered or-queries, classified as their
    # rewrite.normalize lowering (the filter drives a ReqOptSum); only
    # must_not filter Bools (which match NOTHING, not everything-but)
    # still fall back
    assert classify(
        ast.Filtered(ast.Bool(should=[ast.Term("a")]), ast.Term("b"))
    ) is not None
    # multi-term conjuncts ride the kernel as constant-score term SETS
    # (round 4); in should-position they ride the MaxScore kernel as
    # set clauses too (round 4, late)
    assert classify(ast.Filtered(ast.Term("a"), ast.Wildcard("b*"))) is not None
    assert classify(
        ast.Bool(must=[ast.Term("a"), ast.Wildcard("b*")])
    ) is not None
    assert classify(
        ast.Bool(must=[ast.Term("a"), ast.Fuzzy("bc")])
    ) is not None
    assert classify(ast.Bool(should=[ast.Wildcard("b*")])) is not None
    assert classify(
        ast.Filtered(ast.Term("a"), ast.Bool(must_not=[ast.Term("b")]))
    ) is None
    # phrase + range rides the kernel: a term conjunct carries the dv
    # stream, or (round 4, late) the rarest required phrase leg is
    # synthesized as an unscored carrier when no term conjunct exists
    assert classify(
        ast.Bool(must=[ast.Phrase(["a", "b"]), ast.Term("c"),
                       ast.Range("turn_idx", min=1)])
    ) is not None
    assert classify(
        ast.Bool(must=[ast.Phrase(["a", "b"]), ast.Range("turn_idx", min=1)])
    ) is not None
    # range + ONLY set/group conjuncts also rides: every member posting
    # of a doc inlines the same dv value, so the row mask at the set's
    # (or group's) decode is exact
    assert classify(
        ast.Bool(must=[ast.Wildcard("a*"), ast.Range("turn_idx", min=1)])
    ) is not None
    assert classify(
        ast.Bool(must=[ast.Bool(should=[ast.Term("a"), ast.Term("b")]),
                       ast.Bool(should=[ast.Term("c"), ast.Term("d")]),
                       ast.Range("turn_idx", min=1)])
    ) is not None
    # sloppy phrase with repeated terms rides the kernel (round 4 —
    # the phrase kernel owns the repeating-terms collision walk)
    assert classify(
        ast.Bool(must=[ast.Phrase(["a", "a"], slop=2)])
    ) is not None
    # repeated terms fall back too (weights would collapse)
    assert wand_search(
        small_index, ast.Bool(should=[ast.Term("the"), ast.Term("the")])
    ) is None


def test_search_uses_wand_transparently(small_index, small_oracle):
    node = ast.Bool(must=[ast.Term("error"), ast.Term("query")])
    got = [(r["docid"], r["score"]) for r in
           search(small_index, node, size=10).collect()]
    want = small_oracle.search(node, size=10)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12)


def test_segment_aligned_serving_is_narrow_and_identical(
    spark, small_transcripts, small_oracle
):
    """persist() pays one repartition at pin time and
    buys shuffle-free queries: the WAND/phrase kernels become narrow
    mapInPandas (NO Exchange in the executed plan), with results
    identical to the default grouped path."""
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    store_positions=True),
    ).persist()
    assert idx.segment_aligned
    nodes = [
        ast.Term("the"),
        ast.Bool(must=[ast.Term("error"), ast.Term("query")]),
        ast.Bool(should=[ast.Term("error"), ast.Term("query")],
                 minimum_should_match=1),
    ]
    for node in nodes:
        got = [(r["docid"], round(r["score"], 9)) for r in
               search(idx, node, size=10).collect()]
        want = [(d, round(s, 9)) for d, s in small_oracle.search(node, size=10)]
        assert got == want, node
    # plan shape: no Exchange on the QUERY side of the plan (above the
    # InMemoryTableScan of the pinned postings; the cached relation's
    # child text still shows the build's own exchanges, which ran once
    # at pin time)
    idx.postings.count()  # materialize the pinned layout

    def query_side(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.split("InMemoryTableScan")[0]

    top = search(idx, ast.Term("the"), size=10)
    assert "Exchange" not in query_side(top), query_side(top)
    # phrase path rides the same layout
    ph = search(idx, ast.Phrase(["error", "query"]), size=10)
    phs = [(r["docid"], round(r["score"], 9)) for r in ph.collect()]
    want = [(d, round(s, 9))
            for d, s in small_oracle.search(ast.Phrase(["error", "query"]), 10)]
    assert phs == want
    assert "Exchange" not in query_side(ph), query_side(ph)
    idx.unpersist()


def test_docvalue_range_rides_kernel(spark, small_transcripts, small_oracle):
    """IndexConfig(docvalue_cols): Range predicates over inlined
    doc-values evaluate inside the WAND kernel (Lucene NumericDocValues)
    — `term AND range` stays on the narrow top-k path, candidates prune
    at the rarest term's first decode, and results stay rank+score
    identical to the oracle and the exhaustive executor."""
    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.query.wand import wand_candidates

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    docvalue_cols=("turn_idx",)),
    )
    idx.postings.cache().count()
    shapes = [
        ast.Bool(must=[ast.Term("error"),
                       ast.Range("turn_idx", min=1, max=5)]),
        ast.Bool(must=[ast.Term("the"),
                       ast.Range("turn_idx", min=2, min_inclusive=False)]),
        ast.Bool(must=[ast.Term("error"), ast.Term("the"),
                       ast.Range("turn_idx", max=4, max_inclusive=False)]),
        ast.Bool(
            must=[ast.Term("error"),
                  ast.Range("turn_idx", min=0, max=100),
                  ast.Range("turn_idx", min=2, max=3, boost=2.0)],
            must_not=[ast.Term("data")],
        ),
        ast.Bool(must=[ast.Term("error"), ast.Range("turn_idx", min=99)]),
    ]
    for node in shapes:
        assert wand_candidates(idx, node, 10) is not None, node
        got = [(r["docid"], round(r["score"], 9)) for r in
               search(idx, node, size=10).collect()]
        want = [(d, round(s, 9)) for d, s in small_oracle.search(node, 10)]
        assert got == want, node
        slow = [(r["docid"], round(r["score"], 9)) for r in
                search(idx, node, size=10, use_wand=False).collect()]
        assert got == slow, node
    # an index WITHOUT the doc-value falls back to the executor plan
    assert wand_candidates(small_index_noop(spark, small_transcripts),
                           shapes[0], 10) is None


def small_index_noop(spark, small_transcripts):
    from bzzz_spark.build.indexer import IndexConfig, build_index

    return build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4),
    )


@pytest.mark.parametrize(
    "builder", ["build_index", "build_and_write", "build_sharded"]
)
def test_docvalue_rejects_non_integer_columns(
    spark, small_transcripts, tmp_path, builder
):
    from bzzz_spark.build.checkpoint import build_and_write
    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.serve.scatter import build_sharded

    cfg = IndexConfig(num_partitions=2, docvalue_cols=("role",))
    out = str(tmp_path / builder)
    build = {
        "build_index": lambda: build_index(small_transcripts, cfg),
        "build_and_write": lambda: build_and_write(
            small_transcripts, out, cfg
        ),
        "build_sharded": lambda: build_sharded(
            small_transcripts, out, 2, cfg
        ),
    }[builder]
    with pytest.raises(ValueError, match="integer-typed"):
        build()


def test_or_kernel_maxscore_prunes_head_blocks(spark):
    """MaxScore for disjunctions: 'rare OR head' with small k must NOT
    decode the head term's full postings.  Once the rare term's
    candidates establish θ above the head term's upper bound, the head
    term stops admitting new docs and decodes only blocks overlapping
    the surviving candidates (Lucene 8+ MaxScoreBulkScorer discipline)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark
    from bzzz_spark.query.scoring import idf as idf_fn
    from bzzz_spark.query.wand import _make_kernel

    texts = []
    for i in range(400):
        base = f"head filler{i % 7} head word{i % 13}"
        if i in (60, 140):
            base = "rare " + base
        texts.append(base)
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(400)],
            "turn_idx": [0] * 400,
            "role": ["user"] * 400,
            "text": texts,
            "tool": [""] * 400,
            "ts": pd.to_datetime(["2026-01-01"] * 400),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(block_size=8, segment_size=1 << 14, num_partitions=1),
    )
    n_docs, avgdl = idx.scalar_stats()
    meta = idx.lookup_terms(["rare", "head"])
    qmeta = {
        int(meta[t][0]): (idf_fn(n_docs, meta[t][1]), 1.0)
        for t in ("rare", "head")
    }
    blocks = idx.postings.filter(
        F.col("term_id").isin(sorted(qmeta))
    ).toPandas()
    stats: dict = {}
    kernel = _make_kernel(qmeta, "or", 1, 2, avgdl, stats=stats)
    out = kernel(blocks).sort_values(
        ["score", "docid"], ascending=[False, True]
    ).head(2)
    want = [
        (r["docid"], round(r["score"], 9))
        for r in search(
            idx,
            ast.Bool(should=[ast.Term("rare"), ast.Term("head")]),
            size=2,
            use_wand=False,
        ).collect()
    ]
    got = [(int(d), round(float(s), 9)) for d, s in
           zip(out["docid"], out["score"])]
    assert got == want
    head_tid = int(meta["head"][0])
    rare_tid = int(meta["rare"][0])
    assert stats["total_blocks"][head_tid] >= 40  # 400 docs / 8 per block
    # 2 candidate docs -> at most 2 head blocks decoded
    assert stats["decoded_blocks"][head_tid] <= 2, stats
    assert stats["decoded_blocks"][rare_tid] == stats["total_blocks"][rare_tid]


def test_or_kernel_maxscore_with_exclusion_and_msm(spark, small_index,
                                                   small_oracle):
    """The MaxScore path keeps exact results under msm and must_not at
    every k (θ is built only from msm-qualifying, non-excluded
    candidates — an excluded doc must never inflate θ)."""
    nodes = [
        ast.Bool(should=[ast.Term("error"), ast.Term("query"),
                         ast.Term("the")]),
        ast.Bool(should=[ast.Term("error"), ast.Term("the")],
                 must_not=[ast.Term("query")]),
        ast.Bool(should=[ast.Term("error"), ast.Term("query"),
                         ast.Term("the")], minimum_should_match=2),
        ast.Bool(should=[ast.Term("error"), ast.Term("the"),
                         ast.Term("data")],
                 minimum_should_match=2, must_not=[ast.Term("merge")]),
    ]
    for node in nodes:
        for size in (1, 3, 10, 50):
            got = [(r["docid"], round(r["score"], 9)) for r in
                   wand_search(small_index, node, size=size).collect()]
            want = [(d, round(s, 9))
                    for d, s in small_oracle.search(node, size=size)]
            assert got == want, (node, size)


def test_multiterm_constant_score_kernel(small_index, small_oracle):
    """Top-level wildcard/fuzzy ride the constant-score 'any' kernel
    (Lucene CONSTANT_SCORE_REWRITE): rank+score identical to the
    exhaustive executor and the oracle, incl. boosts and empty
    expansions."""
    nodes = [
        ast.Wildcard("err*"),
        ast.Wildcard("*rror"),
        ast.Wildcard("e?ror"),
        ast.Wildcard("zzqx*"),
        ast.Wildcard("err*", boost=2.5),
        ast.Fuzzy("eror", max_edits=1),
    ]
    for node in nodes:
        fast = wand_search(small_index, node, size=10)
        assert fast is not None, node
        got = [(r["docid"], round(r["score"], 9)) for r in fast.collect()]
        slow = [(r["docid"], round(r["score"], 9)) for r in
                search(small_index, node, size=10, use_wand=False).collect()]
        want = [(d, round(s, 9))
                for d, s in small_oracle.search(node, size=10)]
        assert got == slow == want, node


def test_any_kernel_stops_at_k_smallest_docids(spark):
    """The 'any' kernel's early termination: with each expansion term
    in its own block, k=5 must decode ~5 of the 400 blocks — matching
    docids beyond the kth smallest are never touched."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark
    from bzzz_spark.query.wand import _make_kernel

    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(400)],
            "turn_idx": [0] * 400,
            "role": ["user"] * 400,
            "text": [f"w{i:03d} filler" for i in range(400)],
            "tool": [""] * 400,
            "ts": pd.to_datetime(["2026-01-01"] * 400),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(block_size=8, segment_size=1 << 14, num_partitions=1),
    )
    exp = [f"w{i:03d}" for i in range(400)]
    meta = idx.lookup_terms(exp)
    tids = sorted(int(t) for t, _ in meta.values())
    assert len(tids) == 400
    blocks = idx.postings.filter(F.col("term_id").isin(tids)).toPandas()
    stats: dict = {}
    kernel = _make_kernel(
        {t: (0.0, 1.0) for t in tids}, "any", 1, 5, 1.0,
        stats=stats,
    )
    out = kernel(blocks)
    assert sorted(out["docid"].tolist()) == [0, 1, 2, 3, 4]
    assert stats["total_blocks"] == 400
    assert stats["decoded_blocks"] <= 6, stats


def test_and_kernel_blockmax_prunes_rare_blocks(spark):
    """Block-max conjunction: with k=1 and one clearly-best doc, θ from
    the first (highest-bound) chunk must prune the remaining rare-term
    chunks — decoded blocks stay near CHUNK, not the full posting list
    (Lucene BlockMaxConjunctionScorer discipline)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark
    from bzzz_spark.query.scoring import idf as idf_fn
    from bzzz_spark.query.wand import _make_kernel

    # uniform dl=4 so norms cannot reorder; doc 100 carries tf=2 of
    # both terms -> its block's max score dominates every other block
    texts = ["aa bb c0 d0"] * 400
    texts[100] = "aa aa bb bb"
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(400)],
            "turn_idx": [0] * 400,
            "role": ["user"] * 400,
            "text": texts,
            "tool": [""] * 400,
            "ts": pd.to_datetime(["2026-01-01"] * 400),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(block_size=8, segment_size=1 << 14, num_partitions=1),
    )
    n_docs, avgdl = idx.scalar_stats()
    meta = idx.lookup_terms(["aa", "bb"])
    qmeta = {
        int(meta[t][0]): (idf_fn(n_docs, meta[t][1]), 1.0)
        for t in ("aa", "bb")
    }
    blocks = idx.postings.filter(
        F.col("term_id").isin(sorted(qmeta))
    ).toPandas()
    stats: dict = {}
    kernel = _make_kernel(qmeta, "and", 2, 1, avgdl, stats=stats)
    out = kernel(blocks).sort_values(
        ["score", "docid"], ascending=[False, True]
    ).head(1)
    want = [
        (r["docid"], round(r["score"], 9))
        for r in search(
            idx,
            ast.Bool(must=[ast.Term("aa"), ast.Term("bb")]),
            size=1,
            use_wand=False,
        ).collect()
    ]
    got = [(int(d), round(float(s), 9)) for d, s in
           zip(out["docid"], out["score"])]
    assert got == want == [(100, want[0][1])]
    for tid in map(int, (meta["aa"][0], meta["bb"][0])):
        assert stats["total_blocks"][tid] >= 50  # 400 docs / 8 per block
        # θ after the first chunk prunes everything else
        assert stats["decoded_blocks"][tid] <= 9, stats


def test_negative_boost_falls_back_and_stays_exact(small_index,
                                                   small_oracle):
    """block_max_score is an UPPER bound only for non-negative weights;
    negative boosts must take the exhaustive plan (Lucene rejects
    boost < 0 since 7.0 — we serve it, exactly, off the kernel)."""
    nodes = [
        ast.Term("the", boost=-1.0),
        ast.Bool(should=[ast.Term("error"), ast.Term("the", boost=-1.0)]),
        ast.Bool(must=[ast.Term("error"), ast.Term("query", boost=-2.0)]),
    ]
    for node in nodes:
        assert classify(node) is None, node
        got = [(r["docid"], round(r["score"], 9)) for r in
               search(small_index, node, size=10).collect()]
        want = [(d, round(s, 9))
                for d, s in small_oracle.search(node, size=10)]
        assert got == want, node


def test_zero_boost_score_ties_break_by_docid(small_index, small_oracle):
    """boost=0 makes every score 0 — the block-max break must not stop
    at score-tied blocks, because the (score desc, docid asc) tie-break
    means the k SMALLEST docids win and those can live in any block."""
    node = ast.Term("the", boost=0.0)
    got = [(r["docid"], r["score"]) for r in
           wand_search(small_index, node, size=5).collect()]
    want = small_oracle.search(node, size=5)
    assert [d for d, _ in got] == [d for d, _ in want], (got, want)
    assert all(s == 0.0 for _, s in got)


def test_docvalue_null_rejected_at_build(spark):
    import pandas as pd
    import pytest as _pytest

    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark

    pdf = pd.DataFrame(
        {
            "conv_id": ["c0", "c1"],
            "turn_idx": pd.array([0, None], dtype="Int64"),
            "role": ["user", "user"],
            "text": ["alpha beta", "alpha gamma"],
            "tool": ["", ""],
            "ts": pd.to_datetime(["2026-01-01"] * 2),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(num_partitions=1, docvalue_cols=("turn_idx",)),
    )
    with _pytest.raises(Exception, match="NULL"):
        idx.postings.count()


def _hybrid_index(spark, small_transcripts):
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    store_positions=True, docvalue_cols=("turn_idx",)),
    )
    idx.postings.cache().count()
    return idx


def test_hybrid_filtered_rides_kernel(spark, small_transcripts,
                                      small_oracle):
    """Filtered(query=<flat>, filter=<term/range/bool-of-those>) rides
    the conjunction kernel: the filter arm intersects without scoring
    (Lucene FilteredQuery), results rank+score identical to the oracle
    AND the exhaustive executor."""
    from bzzz_spark.query.wand import wand_candidates

    idx = _hybrid_index(spark, small_transcripts)
    nodes = [
        ast.Filtered(ast.Term("error"), ast.Term("the")),
        ast.Filtered(ast.Term("error"), ast.Range("turn_idx", min=1, max=5)),
        ast.Filtered(
            ast.Bool(must=[ast.Term("error"), ast.Term("query")]),
            ast.Term("the"),
        ),
        ast.Filtered(
            ast.Term("error"),
            ast.Bool(
                must=[ast.Term("the"), ast.Range("turn_idx", min=0)],
                must_not=[ast.Term("data")],
            ),
        ),
        ast.Filtered(ast.Term("the"), ast.Phrase(["error", "query"])),
        ast.Filtered(
            ast.Bool(must=[ast.Term("error")], must_not=[ast.Term("data")]),
            ast.Term("the"),
        ),
        # filter term out of vocabulary: matches nothing
        ast.Filtered(ast.Term("error"), ast.Term("nosuchterm")),
    ]
    for node in nodes:
        assert wand_candidates(idx, node, 10) is not None, node
        got = [(r["docid"], round(r["score"], 9)) for r in
               search(idx, node, size=10).collect()]
        want = [(d, round(s, 9)) for d, s in small_oracle.search(node, 10)]
        assert got == want, node
        slow = [(r["docid"], round(r["score"], 9)) for r in
                search(idx, node, size=10, use_wand=False).collect()]
        assert got == slow, node
    idx.postings.unpersist()


def test_phrase_in_bool_rides_kernel(spark, small_transcripts,
                                     small_oracle):
    """Bool(must=[Terms..., Phrase...]) rides the mixed conjunction
    kernel: the phrase is a pseudo-term whose candidate stream is
    phrase.phrase_arrays output — rank+score identical to the oracle
    and the exhaustive executor, incl. sloppy phrases, must_not, and
    phrase-only conjunctions."""
    from bzzz_spark.query.wand import wand_candidates

    idx = _hybrid_index(spark, small_transcripts)
    nodes = [
        ast.Bool(must=[ast.Term("the"), ast.Phrase(["error", "query"])]),
        ast.Bool(must=[ast.Phrase(["error", "query"]), ast.Term("data")]),
        ast.Bool(must=[ast.Phrase(["error", "query"], slop=3),
                       ast.Term("the")]),
        ast.Bool(must=[ast.Phrase(["error", "query"])],
                 must_not=[ast.Term("data")]),
        ast.Bool(must=[ast.Phrase(["error", "query"]),
                       ast.Phrase(["the", "merge"], slop=2)]),
        ast.Bool(must=[ast.Term("the"), ast.Phrase(["error", "nosuchterm"])]),
        ast.Bool(must=[ast.Term("the"),
                       ast.Phrase(["error", "query"], boost=2.0)]),
    ]
    for node in nodes:
        assert wand_candidates(idx, node, 10) is not None, node
        got = [(r["docid"], round(r["score"], 9)) for r in
               search(idx, node, size=10).collect()]
        want = [(d, round(s, 9)) for d, s in small_oracle.search(node, 10)]
        assert got == want, node
        slow = [(r["docid"], round(r["score"], 9)) for r in
                search(idx, node, size=10, use_wand=False).collect()]
        assert got == slow, node
    idx.postings.unpersist()


def test_mixed_kernel_prunes_head_term_blocks(spark):
    """`head AND "rare phrase"`: the phrase (rarest conjunct) anchors,
    and the head term decodes ONLY blocks overlapping the phrase's
    candidates — the decode-everything surface VERDICT r3 flagged is
    closed (ref TermPayloadClojureScoreQuery.java:237-257 leapfrog,
    applied uniformly)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark
    from bzzz_spark.query.scoring import idf as idf_fn
    from bzzz_spark.query.wand import _make_kernel

    texts = [f"head filler{i % 7} pad{i % 13}" for i in range(400)]
    texts[77] = "head alpha beta tail"
    texts[301] = "head alpha beta more"
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(400)],
            "turn_idx": [0] * 400,
            "role": ["user"] * 400,
            "text": texts,
            "tool": [""] * 400,
            "ts": pd.to_datetime(["2026-01-01"] * 400),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(block_size=8, segment_size=1 << 14, num_partitions=1,
                    store_positions=True),
    )
    n_docs, avgdl = idx.scalar_stats()
    meta = idx.lookup_terms(["head", "alpha", "beta"])
    head_tid = int(meta["head"][0])
    leg_tids = [int(meta["alpha"][0]), int(meta["beta"][0])]
    qmeta = {head_tid: (idf_fn(n_docs, meta["head"][1]), 1.0)}
    w_p = sum(idf_fn(n_docs, meta[t][1]) for t in ("alpha", "beta"))
    blocks = idx.postings.filter(
        F.col("term_id").isin([head_tid] + leg_tids)
    ).toPandas()
    stats: dict = {}
    kernel = _make_kernel(qmeta, "and", 1, 10, avgdl, stats=stats,
                          phrases=[(leg_tids, 0, w_p)])
    out = kernel(blocks)
    assert sorted(out["docid"].tolist()) == [77, 301]
    # parity with the full engine paths
    node = ast.Bool(must=[ast.Term("head"), ast.Phrase(["alpha", "beta"])])
    fast = [(r["docid"], round(r["score"], 9)) for r in
            search(idx, node, size=10).collect()]
    slow = [(r["docid"], round(r["score"], 9)) for r in
            search(idx, node, size=10, use_wand=False).collect()]
    assert fast == slow
    assert sorted(d for d, _ in fast) == [77, 301]
    # pruning evidence: 400 docs / 8 per block = 50 head blocks total,
    # but only the (at most 2) blocks holding the phrase candidates
    # decode
    assert stats["total_blocks"][head_tid] >= 50
    assert stats["decoded_blocks"][head_tid] <= 2, stats


def test_multiterm_in_bool_rides_kernel(spark, small_transcripts,
                                        small_oracle):
    """Bool(must=[..., Wildcard/Fuzzy]) rides the mixed conjunction
    kernel as a constant-score term SET (Lucene CONSTANT_SCORE_REWRITE
    inside a conjunction): rank+score identical to the oracle and the
    exhaustive executor, incl. filter arms, exclusions, boosts, and
    empty expansions."""
    from bzzz_spark.query.wand import wand_candidates

    idx = _hybrid_index(spark, small_transcripts)
    nodes = [
        ast.Bool(must=[ast.Term("the"), ast.Wildcard("quer*")]),
        ast.Bool(must=[ast.Wildcard("err*"), ast.Term("data")]),
        ast.Bool(must=[ast.Term("the"), ast.Fuzzy("querry", max_edits=1)]),
        ast.Bool(must=[ast.Term("error"), ast.Wildcard("quer*")],
                 must_not=[ast.Term("data")]),
        # empty expansion: a must conjunct matching no vocabulary term
        # empties the whole conjunction
        ast.Bool(must=[ast.Term("the"), ast.Wildcard("zzzzz*")]),
        # pure multi-term conjunction (the set anchors)
        ast.Bool(must=[ast.Wildcard("err*"), ast.Wildcard("quer*")]),
        # filter arm: intersects, contributes 0
        ast.Filtered(ast.Term("the"), ast.Wildcard("err*")),
        # boosted: constant contribution is the node's boost
        ast.Bool(must=[ast.Term("the"), ast.Wildcard("quer*", boost=2.0)]),
        # multi + phrase in one conjunction
        ast.Bool(must=[ast.Phrase(["error", "query"]),
                       ast.Wildcard("th*")]),
    ]
    for node in nodes:
        assert wand_candidates(idx, node, 10) is not None, node
        got = [(r["docid"], round(r["score"], 9)) for r in
               search(idx, node, size=10).collect()]
        want = [(d, round(s, 9)) for d, s in small_oracle.search(node, 10)]
        assert got == want, node
        slow = [(r["docid"], round(r["score"], 9)) for r in
                search(idx, node, size=10, use_wand=False).collect()]
        assert got == slow, node
    idx.postings.unpersist()


def test_multiterm_conjunct_prunes_head_blocks(spark):
    """`head AND rare-wildcard`: the expanded set (rarest conjunct)
    anchors and the head term decodes ONLY candidate-overlapping
    blocks — the same leapfrog evidence as the phrase pseudo-term."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark
    from bzzz_spark.query.scoring import idf as idf_fn
    from bzzz_spark.query.wand import _make_kernel

    texts = [f"head filler{i % 7} pad{i % 13}" for i in range(400)]
    texts[77] = "head status5a tail"
    texts[301] = "head status5b more"
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(400)],
            "turn_idx": [0] * 400,
            "role": ["user"] * 400,
            "text": texts,
            "tool": [""] * 400,
            "ts": pd.to_datetime(["2026-01-01"] * 400),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(block_size=8, segment_size=1 << 14, num_partitions=1),
    )
    n_docs, avgdl = idx.scalar_stats()
    meta = idx.lookup_terms(["head", "status5a", "status5b"])
    head_tid = int(meta["head"][0])
    set_tids = tuple(
        sorted(int(meta[t][0]) for t in ("status5a", "status5b"))
    )
    qmeta = {head_tid: (idf_fn(n_docs, meta["head"][1]), 1.0)}
    blocks = idx.postings.filter(
        F.col("term_id").isin([head_tid, *set_tids])
    ).toPandas()
    stats: dict = {}
    kernel = _make_kernel(qmeta, "and", 1, 10, avgdl, stats=stats,
                          termsets=[(set_tids, 1.0)])
    out = kernel(blocks)
    assert sorted(out["docid"].tolist()) == [77, 301]
    # parity with the full engine paths
    node = ast.Bool(must=[ast.Term("head"), ast.Wildcard("status5*")])
    fast = [(r["docid"], round(r["score"], 9)) for r in
            search(idx, node, size=10).collect()]
    slow = [(r["docid"], round(r["score"], 9)) for r in
            search(idx, node, size=10, use_wand=False).collect()]
    assert fast == slow
    assert sorted(d for d, _ in fast) == [77, 301]
    # pruning evidence: 400 docs / 8 per block = 50 head blocks total,
    # but only the (at most 2) blocks holding the set's candidates
    # decode
    assert stats["total_blocks"][head_tid] >= 50
    assert stats["decoded_blocks"][head_tid] <= 2, stats


def test_zigzag_roundtrip():
    import numpy as np

    from bzzz_spark.build.codec import decode_zigzag, encode_varints

    x = np.array([0, -1, 1, -2, 2, 12345, -98765, 2**40, -(2**40)],
                 dtype=np.int64)
    z = (x << np.int64(1)) ^ (x >> np.int64(63))
    assert decode_zigzag(encode_varints(z), x.size).tolist() == x.tolist()


# ---- mixed must+should (Lucene ReqOptSumScorer): the conjunction
# drives candidates, optional terms add score and satisfy msm; results
# must match the oracle AND the exhaustive executor at every k.

REQ_OPT_QUERIES = [
    ast.Bool(must=[ast.Term("merge")],
             should=[ast.Term("scan"), ast.Term("error")]),
    ast.Bool(must=[ast.Term("merge")],
             should=[ast.Term("scan"), ast.Term("error")],
             minimum_should_match=1),
    ast.Bool(must=[ast.Term("merge")],
             should=[ast.Term("scan"), ast.Term("error")],
             minimum_should_match=2),
    ast.Bool(must=[ast.Term("merge")],
             should=[ast.Term("nosuchterm"), ast.Term("error")]),
    # msm counts only in-vocabulary optionals: unsatisfiable -> empty
    ast.Bool(must=[ast.Term("merge")],
             should=[ast.Term("nosuchterm"), ast.Term("error")],
             minimum_should_match=2),
    ast.Bool(must=[ast.Term("merge")],
             should=[ast.Term("error", boost=2.0)],
             must_not=[ast.Term("dup")]),
    ast.Bool(must=[ast.Term("scan"), ast.Term("filter")],
             should=[ast.Term("the", boost=0.5)]),
    # the optional term is also required: both contributions apply
    ast.Bool(must=[ast.Term("error")], should=[ast.Term("error")]),
    # a filtered disjunction classifies as its lowering: the filter
    # drives candidates and the shoulds score
    ast.Filtered(ast.Bool(should=[ast.Term("merge"), ast.Term("error")]),
                 ast.Term("scan")),
]


@pytest.mark.parametrize("i", range(len(REQ_OPT_QUERIES)))
def test_req_opt_kernel_matches_oracle(small_index, small_oracle, i):
    node = REQ_OPT_QUERIES[i]
    assert classify(node) is not None, node  # rides the kernel
    for size in (1, 5, 25):
        got = [(r["docid"], round(r["score"], 9)) for r in
               search(small_index, node, size=size).collect()]
        want = [(d, round(s, 9))
                for d, s in small_oracle.search(node, size=size)]
        assert got == want, (node, size)
        slow = [(r["docid"], round(r["score"], 9)) for r in
                search(small_index, node, size=size,
                       use_wand=False).collect()]
        assert got == slow, (node, size)


def test_req_opt_filtered_wrap_rides_kernel(small_index, small_oracle):
    node = ast.Filtered(
        query=ast.Bool(must=[ast.Term("merge")], should=[ast.Term("error")]),
        filter=ast.Term("scan"),
    )
    assert classify(node) is not None
    got = [(r["docid"], round(r["score"], 9)) for r in
           search(small_index, node, size=10).collect()]
    want = [(d, round(s, 9)) for d, s in small_oracle.search(node, size=10)]
    assert got == want


def test_req_opt_kernel_prunes_optional_head_blocks(spark):
    """'rare +must, head optional': the optional head term must decode
    only the blocks overlapping the conjunction's candidates — never
    its full posting list (the ReqExcl lazy-decode discipline applied
    to ReqOptSum's optional side)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark
    from bzzz_spark.query.scoring import idf as idf_fn
    from bzzz_spark.query.wand import _make_kernel

    texts = []
    for i in range(400):
        base = f"head filler{i % 7} head word{i % 13}"
        if i in (60, 140):
            base = "rare " + base
        texts.append(base)
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(400)],
            "turn_idx": [0] * 400,
            "role": ["user"] * 400,
            "text": texts,
            "tool": [""] * 400,
            "ts": pd.to_datetime(["2026-01-01"] * 400),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(block_size=8, segment_size=1 << 14, num_partitions=1),
    )
    n_docs, avgdl = idx.scalar_stats()
    meta = idx.lookup_terms(["rare", "head"])
    rare_tid = int(meta["rare"][0])
    head_tid = int(meta["head"][0])
    qmeta = {rare_tid: (idf_fn(n_docs, meta["rare"][1]), 1.0)}
    opts = {head_tid: (idf_fn(n_docs, meta["head"][1]), 1.0)}
    blocks = idx.postings.filter(
        F.col("term_id").isin([rare_tid, head_tid])
    ).toPandas()
    stats: dict = {}
    kernel = _make_kernel(qmeta, "and", 1, 10, avgdl, stats=stats,
                          opts=opts, opt_msm=0)
    out = kernel(blocks)
    assert sorted(out["docid"].tolist()) == [60, 140]
    # parity with the full engine paths
    node = ast.Bool(must=[ast.Term("rare")], should=[ast.Term("head")])
    fast = [(r["docid"], round(r["score"], 9)) for r in
            search(idx, node, size=10).collect()]
    slow = [(r["docid"], round(r["score"], 9)) for r in
            search(idx, node, size=10, use_wand=False).collect()]
    assert fast == slow
    assert sorted(d for d, _ in fast) == [60, 140]
    # 400 docs / 8 per block = 50 head blocks total; 2 candidates ->
    # at most 2 decode
    assert stats["total_blocks"][f"opt:{head_tid}"] >= 50
    assert stats["decoded_blocks"][f"opt:{head_tid}"] <= 2, stats


def test_required_disjunction_in_conjunction_rides_kernel(spark):
    """'rare AND (alpha OR beta)' — the required-group hoist
    (rewrite.py) turns the inner should-only Bool into optional terms
    gated by opt_msm=1, so the shape rides the ReqOptSum kernel: the
    rare conjunct drives candidates, and the group's head terms decode
    only candidate-overlapping blocks, never their full postings."""
    import pandas as pd

    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark
    from bzzz_spark.query.rewrite import normalize

    texts = []
    for i in range(400):
        # alpha/beta are head terms (every doc has one); rare appears
        # 3x, and one rare doc has NEITHER alpha nor beta so the group
        # requirement must exclude it
        base = ("alpha " if i % 2 else "beta ") + f"filler{i % 7}"
        if i in (60, 140):
            base = "rare " + base
        if i == 250:
            base = "rare plain text only"
        texts.append(base)
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(400)],
            "turn_idx": [0] * 400,
            "role": ["user"] * 400,
            "text": texts,
            "tool": [""] * 400,
            "ts": pd.to_datetime(["2026-01-01"] * 400),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(block_size=8, segment_size=1 << 14, num_partitions=1),
    )
    node = ast.Bool(must=[
        ast.Term("rare"),
        ast.Bool(should=[ast.Term("alpha"), ast.Term("beta")]),
    ])
    flat = normalize(node)
    shape = classify(flat)
    assert shape is not None and shape.mode == "and"
    assert shape.opt_msm == 1 and len(shape.opts) == 2
    fast = [(r["docid"], round(r["score"], 9)) for r in
            search(idx, node, size=10).collect()]
    slow = [(r["docid"], round(r["score"], 9)) for r in
            search(idx, node, size=10, use_wand=False).collect()]
    assert fast == slow
    # doc 250 has rare but neither group member -> excluded
    assert sorted(d for d, _ in fast) == [60, 140]
    # pruning evidence at the kernel layer: ~25 blocks per group term;
    # 3 rare candidates -> each optional decodes <= 3 blocks (one per
    # candidate-overlapping block), never its full posting list
    from pyspark.sql import functions as F

    from bzzz_spark.query.scoring import idf as idf_fn
    from bzzz_spark.query.wand import _make_kernel

    n_docs, avgdl = idx.scalar_stats()
    meta = idx.lookup_terms(["rare", "alpha", "beta"])
    rare_tid = int(meta["rare"][0])
    qmeta = {rare_tid: (idf_fn(n_docs, meta["rare"][1]), 1.0)}
    opts = {int(meta[t][0]): (idf_fn(n_docs, meta[t][1]), 1.0)
            for t in ("alpha", "beta")}
    blocks = idx.postings.filter(
        F.col("term_id").isin([rare_tid] + [int(meta[t][0])
                                            for t in ("alpha", "beta")])
    ).toPandas()
    stats: dict = {}
    kernel = _make_kernel(qmeta, "and", 1, 10, avgdl, stats=stats,
                          opts=opts, opt_msm=1)
    out = kernel(blocks)
    assert sorted(out["docid"].tolist()) == [60, 140]
    for t in ("alpha", "beta"):
        tid = int(meta[t][0])
        assert stats["total_blocks"][f"opt:{tid}"] >= 24
        assert stats["decoded_blocks"][f"opt:{tid}"] <= 3, stats


# ---- required disjunction GROUPS (the synonym-expansion shape
# "(a OR b) AND (c OR d)"): the rewrite hoists the first group into
# the should list; the second and later groups ride the mixed
# conjunction kernel as 'g' conjuncts — member union gated by the
# group's msm, matched members adding their BM25 scores.

GROUP_QUERIES = [
    ast.Bool(must=[
        ast.Bool(should=[ast.Term("error"), ast.Term("merge")]),
        ast.Bool(should=[ast.Term("scan"), ast.Term("data")]),
    ]),
    ast.Bool(must=[
        ast.Term("the"),
        ast.Bool(should=[ast.Term("error"), ast.Term("merge")]),
        ast.Bool(should=[ast.Term("scan"), ast.Term("data")]),
    ]),
    # group msm=2: both members required
    ast.Bool(must=[
        ast.Bool(should=[ast.Term("the"), ast.Term("a")]),
        ast.Bool(should=[ast.Term("error"), ast.Term("merge"),
                         ast.Term("scan")], minimum_should_match=2),
    ]),
    # member boosts scale the group's contribution
    ast.Bool(must=[
        ast.Bool(should=[ast.Term("error", boost=2.0), ast.Term("merge")]),
        ast.Bool(should=[ast.Term("scan", boost=0.5), ast.Term("data")]),
    ]),
    # exclusion rides along
    ast.Bool(must=[
        ast.Bool(should=[ast.Term("error"), ast.Term("merge")]),
        ast.Bool(should=[ast.Term("the"), ast.Term("data")]),
    ], must_not=[ast.Term("dup")]),
    # OOV member just drops; OOV beyond msm -> empty
    ast.Bool(must=[
        ast.Bool(should=[ast.Term("error"), ast.Term("nosuchterm")]),
        ast.Bool(should=[ast.Term("scan"), ast.Term("data")]),
    ]),
    ast.Bool(must=[
        ast.Bool(should=[ast.Term("error"), ast.Term("nosuchterm")],
                 minimum_should_match=2),
        ast.Bool(should=[ast.Term("scan"), ast.Term("data")]),
    ]),
    # three groups
    ast.Bool(must=[
        ast.Bool(should=[ast.Term("the"), ast.Term("a")]),
        ast.Bool(should=[ast.Term("error"), ast.Term("merge")]),
        ast.Bool(should=[ast.Term("scan"), ast.Term("data")]),
    ]),
]


@pytest.mark.parametrize("i", range(len(GROUP_QUERIES)))
def test_group_kernel_matches_oracle(small_index, small_oracle, i):
    node = GROUP_QUERIES[i]
    from bzzz_spark.query.rewrite import normalize

    assert classify(normalize(node)) is not None, node  # rides the kernel
    for size in (1, 5, 25):
        got = [(r["docid"], round(r["score"], 9)) for r in
               search(small_index, node, size=size).collect()]
        want = [(d, round(s, 9))
                for d, s in small_oracle.search(node, size=size)]
        assert got == want, (node, size)
        slow = [(r["docid"], round(r["score"], 9)) for r in
                search(small_index, node, size=size,
                       use_wand=False).collect()]
        assert got == slow, (node, size)


def test_filtered_by_disjunction_rides_kernel(small_index, small_oracle):
    # Filtered(q, (a OR b)): boost distribution zeroes the filter
    # group's members, then the required-group hoist moves them to the
    # should list — zero-weight optionals gated by opt_msm=1, i.e.
    # membership intersects without scoring (ReqOptSum kernel)
    node = ast.Filtered(
        query=ast.Term("merge"),
        filter=ast.Bool(should=[ast.Term("error"), ast.Term("scan")]),
    )
    from bzzz_spark.query.rewrite import normalize

    flat = normalize(node)
    shape = classify(flat)
    assert shape is not None and shape.opt_msm == 1
    assert all(b == 0.0 for _v, _f, b in shape.opts)  # unscored arm
    got = [(r["docid"], round(r["score"], 9)) for r in
           search(small_index, node, size=10).collect()]
    want = [(d, round(s, 9)) for d, s in small_oracle.search(node, size=10)]
    assert got == want


def test_group_conjunct_prunes_member_blocks(spark):
    """When a rarer conjunct drives, a group's head-term members decode
    only candidate-overlapping blocks — never their full postings."""
    import pandas as pd

    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark

    texts = []
    for i in range(400):
        # alpha and beta are head members (~every doc); rare appears 3x
        base = ("alpha " if i % 2 else "beta ") + f"filler{i % 7}"
        if i in (60, 140):
            base = "rare " + base
        if i == 250:
            base = "rare plain text only"  # fails the group
        texts.append(base)
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(400)],
            "turn_idx": [0] * 400,
            "role": ["user"] * 400,
            "text": texts,
            "tool": [""] * 400,
            "ts": pd.to_datetime(["2026-01-01"] * 400),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(block_size=8, segment_size=1 << 14, num_partitions=1),
    )
    from pyspark.sql import functions as F

    from bzzz_spark.query.scoring import idf as idf_fn
    from bzzz_spark.query.wand import _make_kernel

    n_docs, avgdl = idx.scalar_stats()
    meta = idx.lookup_terms(["rare", "alpha", "beta"])
    rare_tid = int(meta["rare"][0])
    qmeta = {rare_tid: (idf_fn(n_docs, meta["rare"][1]), 1.0)}
    entries = [(int(meta[t][0]), idf_fn(n_docs, meta[t][1]))
               for t in ("alpha", "beta")]
    blocks = idx.postings.filter(
        F.col("term_id").isin([rare_tid] + [t for t, _w in entries])
    ).toPandas()
    stats: dict = {}
    kernel = _make_kernel(qmeta, "and", 1, 10, avgdl, stats=stats,
                          groups=[(entries, 1)])
    out = kernel(blocks)
    # doc 250 has rare but no group member -> gated out
    assert sorted(out["docid"].tolist()) == [60, 140]
    # ~50 member blocks total; 3 rare candidates x 2 member terms ->
    # at most 6 candidate-overlapping blocks decode
    assert stats["total_blocks"]["grp:0"] >= 48
    assert stats["decoded_blocks"]["grp:0"] <= 6, stats
    # full engine path parity on the same corpus
    node = ast.Bool(must=[
        ast.Term("rare"),
        ast.Bool(should=[ast.Term("alpha")]),  # collapses to a term
    ])
    node2 = ast.Bool(must=[
        ast.Term("rare"),
        ast.Bool(should=[ast.Term("alpha"), ast.Term("beta")]),
        ast.Bool(should=[ast.Term("alpha"), ast.Term("filler1")]),
    ])
    for n in (node, node2):
        fast = [(r["docid"], round(r["score"], 9)) for r in
                search(idx, n, size=10).collect()]
        slow = [(r["docid"], round(r["score"], 9)) for r in
                search(idx, n, size=10, use_wand=False).collect()]
        assert fast == slow, n


# ---- dis-max on the MaxScore kernel (Lucene DisjunctionMaxQuery):
# score = (1-tie)*max + tie*sum, same admission/retirement discipline
# with bounds that maximize the max- and sum-parts independently.

DISMAX_QUERIES = [
    ast.DisMax(queries=[ast.Term("error"), ast.Term("merge")]),
    ast.DisMax(queries=[ast.Term("error"), ast.Term("merge"),
                        ast.Term("scan")], tie_breaker=0.3),
    ast.DisMax(queries=[ast.Term("error"), ast.Term("the")],
               tie_breaker=1.0),
    ast.DisMax(queries=[ast.Term("error", boost=2.0), ast.Term("merge")],
               tie_breaker=0.5, boost=3.0),
    ast.DisMax(queries=[ast.Term("nosuchterm"), ast.Term("merge")],
               tie_breaker=0.2),
    ast.DisMax(queries=[ast.Term("the"), ast.Term("a")], tie_breaker=0.1),
]


@pytest.mark.parametrize("i", range(len(DISMAX_QUERIES)))
def test_dismax_kernel_matches_oracle(small_index, small_oracle, i):
    node = DISMAX_QUERIES[i]
    assert classify(node) is not None, node
    for size in (1, 5, 25):
        got = [(r["docid"], round(r["score"], 9)) for r in
               search(small_index, node, size=size).collect()]
        want = [(d, round(s, 9))
                for d, s in small_oracle.search(node, size=size)]
        assert got == want, (node, size)


def test_dismax_duplicate_values_fall_back(small_index, small_oracle):
    # each duplicate occurrence contributes to the SUM separately —
    # the dict-keyed kernel cannot represent that, so it must decline
    node = ast.DisMax(queries=[ast.Term("error"), ast.Term("error")],
                      tie_breaker=0.3)
    assert classify(node) is None
    got = [(r["docid"], round(r["score"], 9)) for r in
           search(small_index, node, size=10).collect()]
    want = [(d, round(s, 9)) for d, s in small_oracle.search(node, size=10)]
    assert got == want


def test_dismax_kernel_prunes_head_blocks(spark):
    """DisMax(rare, head): once the rare term's candidates establish θ
    above the head term's dismax admission bound, the head term decodes
    only candidate-overlapping blocks — never its full posting list."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark
    from bzzz_spark.query.scoring import idf as idf_fn
    from bzzz_spark.query.wand import _make_kernel

    texts = []
    for i in range(400):
        base = f"head filler{i % 7} head word{i % 13}"
        if i in (60, 140):
            base = "rare " + base
        texts.append(base)
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(400)],
            "turn_idx": [0] * 400,
            "role": ["user"] * 400,
            "text": texts,
            "tool": [""] * 400,
            "ts": pd.to_datetime(["2026-01-01"] * 400),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(block_size=8, segment_size=1 << 14, num_partitions=1),
    )
    n_docs, avgdl = idx.scalar_stats()
    meta = idx.lookup_terms(["rare", "head"])
    rare_tid = int(meta["rare"][0])
    head_tid = int(meta["head"][0])
    qmeta = {
        rare_tid: (idf_fn(n_docs, meta["rare"][1]), 1.0),
        head_tid: (idf_fn(n_docs, meta["head"][1]), 1.0),
    }
    blocks = idx.postings.filter(
        F.col("term_id").isin([rare_tid, head_tid])
    ).toPandas()
    stats: dict = {}
    kernel = _make_kernel(qmeta, "dismax", 1, 2, avgdl,
                          stats=stats, tie=0.3)
    out = kernel(blocks).sort_values(
        ["score", "docid"], ascending=[False, True]
    ).head(2)
    node = ast.DisMax(queries=[ast.Term("rare"), ast.Term("head")],
                      tie_breaker=0.3)
    want = [(r["docid"], round(r["score"], 9)) for r in
            search(idx, node, size=2, use_wand=False).collect()]
    got = [(int(d), round(float(s), 9)) for d, s in
           zip(out["docid"], out["score"])]
    assert got == want
    assert sorted(d for d, _ in got) == [60, 140]
    assert stats["total_blocks"][head_tid] >= 40
    assert stats["decoded_blocks"][head_tid] <= 2, stats
    assert stats["decoded_blocks"][rare_tid] == stats["total_blocks"][rare_tid]


def test_opt_phrase_kernel_matches_oracle(spark, small_transcripts,
                                          small_oracle):
    """Optional PHRASES in the should list ride the ReqOptSum kernel:
    the positional kernel runs restricted to the conjunction's
    survivors, adds the phrase's BM25 where it matches, and counts
    toward minimum_should_match."""
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    store_positions=True),
    )
    idx.postings.cache().count()
    nodes = [
        ast.Bool(must=[ast.Term("merge")],
                 should=[ast.Phrase(["the", "data"])]),
        ast.Bool(must=[ast.Term("the")],
                 should=[ast.Phrase(["the", "data"]), ast.Term("error")],
                 minimum_should_match=1),
        ast.Bool(must=[ast.Term("the")],
                 should=[ast.Phrase(["the", "data"]), ast.Term("error")],
                 minimum_should_match=2),
        ast.Bool(must=[ast.Term("error")],
                 should=[ast.Phrase(["the", "data"], slop=3, boost=2.0)]),
        # an OOV phrase leg: that clause matches nothing, msm still
        # satisfiable via the term clause
        ast.Bool(must=[ast.Term("merge")],
                 should=[ast.Phrase(["nosuchterm", "data"]),
                         ast.Term("error")],
                 minimum_should_match=1),
    ]
    for node in nodes:
        assert classify(node) is not None, node
        for size in (1, 5, 25):
            got = [(r["docid"], round(r["score"], 9)) for r in
                   search(idx, node, size=size).collect()]
            want = [(d, round(s, 9))
                    for d, s in small_oracle.search(node, size=size)]
            assert got == want, (node, size)
            slow = [(r["docid"], round(r["score"], 9)) for r in
                    search(idx, node, size=size, use_wand=False).collect()]
            assert got == slow, (node, size)


def test_opt_phrase_requires_positions(small_index):
    """small_index has no positions: the kernel declines (None) and the
    executor raises the loud store_positions error."""
    from bzzz_spark.query.wand import wand_candidates

    node = ast.Bool(must=[ast.Term("merge")],
                    should=[ast.Phrase(["the", "data"])])
    assert wand_candidates(small_index, node, 10) is None
    with pytest.raises(ValueError, match="store_positions"):
        search(small_index, node, size=10).collect()


def test_phrase_in_disjunction_rides_kernel(spark, small_transcripts,
                                            small_oracle):
    """Pure disjunctions and dis-max over Phrase clauses ride the
    MaxScore kernel: a phrase clause is a pseudo-term bounded by
    w_p*(k1+1); admission runs the (rarest-leg-pruned) positional
    kernel over the segment, and once admission closes the phrase
    evaluates restricted to surviving candidates only."""
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    store_positions=True),
    )
    idx.postings.cache().count()
    nodes = [
        # phrase OR term
        ast.Bool(should=[ast.Phrase(["the", "data"]), ast.Term("error")]),
        # phrase-only disjunction
        ast.Bool(should=[ast.Phrase(["the", "data"]),
                         ast.Phrase(["stack", "trace"])]),
        # msm=2: doc must match both clauses
        ast.Bool(should=[ast.Phrase(["the", "data"]), ast.Term("the")],
                 minimum_should_match=2),
        # sloppy + boosted phrase clause, plus an exclusion
        ast.Bool(should=[ast.Phrase(["the", "data"], slop=3, boost=2.0),
                         ast.Term("error")],
                 must_not=[ast.Term("merge")]),
        # OOV phrase leg: that clause matches nothing
        ast.Bool(should=[ast.Phrase(["nosuchterm", "data"]),
                         ast.Term("error")]),
        # dis-max over a phrase and a term, tie-broken
        ast.DisMax(queries=[ast.Phrase(["the", "data"]),
                            ast.Term("error")], tie_breaker=0.3),
        ast.DisMax(queries=[ast.Phrase(["the", "data"], slop=2),
                            ast.Term("the", boost=0.5)],
                   tie_breaker=0.0, boost=2.0),
    ]
    for node in nodes:
        assert classify(node) is not None, node
        for size in (1, 5, 25):
            got = [(r["docid"], round(r["score"], 9)) for r in
                   search(idx, node, size=size).collect()]
            want = [(d, round(s, 9))
                    for d, s in small_oracle.search(node, size=size)]
            assert got == want, (node, size)
            slow = [(r["docid"], round(r["score"], 9)) for r in
                    search(idx, node, size=size, use_wand=False).collect()]
            assert got == slow, (node, size)


def test_phrase_disjunction_requires_positions(small_index):
    """Positions-free index: the kernel declines and the executor
    raises the loud store_positions error."""
    from bzzz_spark.query.wand import wand_candidates

    node = ast.Bool(should=[ast.Phrase(["the", "data"]),
                            ast.Term("error")])
    assert wand_candidates(small_index, node, 10) is None


def test_phrase_disjunction_duplicate_clause_falls_back(small_index):
    """Duplicate phrase clauses fall back (the executor counts each
    occurrence toward msm; a keyed kernel cannot)."""
    node = ast.Bool(should=[ast.Phrase(["the", "data"]),
                            ast.Phrase(["the", "data"])])
    assert classify(node) is None


def test_phrase_or_kernel_prunes_head_blocks(spark):
    """'rare-phrase OR head-term' with small k must NOT decode the head
    term's full postings: the phrase clause (high upper bound — sum of
    rare-leg idfs) admits first and establishes θ above the head term's
    bound, so the head term decodes only candidate-overlapping blocks."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark
    from bzzz_spark.query.scoring import idf as idf_fn
    from bzzz_spark.query.wand import _make_kernel

    texts = []
    for i in range(400):
        base = f"head filler{i % 7} head word{i % 13}"
        if i in (60, 140):
            base = "alpha beta " + base
        texts.append(base)
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(400)],
            "turn_idx": [0] * 400,
            "role": ["user"] * 400,
            "text": texts,
            "tool": [""] * 400,
            "ts": pd.to_datetime(["2026-01-01"] * 400),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(block_size=8, segment_size=1 << 14, num_partitions=1,
                    store_positions=True),
    )
    n_docs, avgdl = idx.scalar_stats()
    meta = idx.lookup_terms(["alpha", "beta", "head"])
    head_tid = int(meta["head"][0])
    leg_tids = [int(meta["alpha"][0]), int(meta["beta"][0])]
    qmeta = {head_tid: (idf_fn(n_docs, meta["head"][1]), 1.0)}
    w_p = sum(idf_fn(n_docs, meta[t][1]) for t in ("alpha", "beta"))
    blocks = idx.postings.filter(
        F.col("term_id").isin(sorted([head_tid] + leg_tids))
    ).toPandas()
    stats: dict = {}
    kernel = _make_kernel(qmeta, "or", 1, 2, avgdl, stats=stats,
                          phrases=[(leg_tids, 0, w_p)])
    out = kernel(blocks).sort_values(
        ["score", "docid"], ascending=[False, True]
    ).head(2)
    want = [
        (r["docid"], round(r["score"], 9))
        for r in search(
            idx,
            ast.Bool(should=[ast.Phrase(["alpha", "beta"]),
                             ast.Term("head")]),
            size=2,
            use_wand=False,
        ).collect()
    ]
    got = [(int(d), round(float(s), 9)) for d, s in
           zip(out["docid"], out["score"])]
    assert got == want
    assert stats["total_blocks"][head_tid] >= 40  # 400 docs / 8 per block
    # 2 phrase-candidate docs -> at most 2 head blocks decoded
    assert stats["decoded_blocks"][head_tid] <= 2, stats


def test_multiterm_in_disjunction_rides_kernel(spark, small_transcripts,
                                               small_oracle):
    """Wildcard/Fuzzy clauses in pure disjunctions and dis-max ride the
    MaxScore kernel as constant-score term SETS (Lucene
    CONSTANT_SCORE_REWRITE): contribution = boost if ANY expansion term
    matches, upper bound = boost."""
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    store_positions=True),
    )
    idx.postings.cache().count()
    nodes = [
        ast.Bool(should=[ast.Wildcard("tok04*"), ast.Term("error")]),
        # msm=2: the doc must match the set AND the term
        ast.Bool(should=[ast.Wildcard("err*"), ast.Term("the", boost=0.5)],
                 minimum_should_match=2),
        # fuzzy set clause + exclusion
        ast.Bool(should=[ast.Fuzzy("merge", max_edits=1),
                         ast.Term("data")],
                 must_not=[ast.Term("scan")]),
        # a pattern matching NO vocabulary term: clause matches nothing
        ast.Bool(should=[ast.Wildcard("zzz_no_match*"),
                         ast.Term("error")]),
        # set clause + phrase clause in one disjunction
        ast.Bool(should=[ast.Wildcard("tok04*"),
                         ast.Phrase(["the", "data"])]),
        # dis-max over a set clause and a term, node boost folded
        ast.DisMax(queries=[ast.Wildcard("tok04*"), ast.Term("error")],
                   tie_breaker=0.3, boost=2.0),
    ]
    for node in nodes:
        assert classify(node) is not None, node
        for size in (1, 5, 25):
            got = [(r["docid"], round(r["score"], 9)) for r in
                   search(idx, node, size=size).collect()]
            want = [(d, round(s, 9))
                    for d, s in small_oracle.search(node, size=size)]
            assert got == want, (node, size)
            slow = [(r["docid"], round(r["score"], 9)) for r in
                    search(idx, node, size=size, use_wand=False).collect()]
            assert got == slow, (node, size)


def test_multiterm_disjunction_prunes_set_blocks(spark):
    """'rare OR head-pattern' with small k: once the rare term's
    candidates establish θ above the pattern's constant boost, the set
    clause decodes only candidate-overlapping blocks."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bzzz_spark.build.indexer import IndexConfig, build_index
    from bzzz_spark.fixtures import to_spark
    from bzzz_spark.query.scoring import idf as idf_fn
    from bzzz_spark.query.wand import _make_kernel

    texts = []
    for i in range(400):
        base = f"head{i % 5} filler{i % 7} head{(i + 1) % 5} word{i % 13}"
        if i in (60, 140):
            base = "rare " + base
        texts.append(base)
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i:04d}" for i in range(400)],
            "turn_idx": [0] * 400,
            "role": ["user"] * 400,
            "text": texts,
            "tool": [""] * 400,
            "ts": pd.to_datetime(["2026-01-01"] * 400),
        }
    )
    idx = build_index(
        to_spark(spark, pdf),
        IndexConfig(block_size=8, segment_size=1 << 14, num_partitions=1),
    )
    n_docs, avgdl = idx.scalar_stats()
    heads = [f"head{i}" for i in range(5)]
    meta = idx.lookup_terms(["rare"] + heads)
    rare_tid = int(meta["rare"][0])
    set_tids = tuple(int(meta[h][0]) for h in heads)
    qmeta = {rare_tid: (idf_fn(n_docs, meta["rare"][1]), 1.0)}
    blocks = idx.postings.filter(
        F.col("term_id").isin(sorted([rare_tid, *set_tids]))
    ).toPandas()
    stats: dict = {}
    # constant boost 0.1 far below the rare term's scores: the set
    # clause processes after θ is established and stops admitting
    kernel = _make_kernel(qmeta, "or", 1, 2, avgdl, stats=stats,
                          termsets=[(set_tids, 0.1)])
    out = kernel(blocks).sort_values(
        ["score", "docid"], ascending=[False, True]
    ).head(2)
    want = [
        (r["docid"], round(r["score"], 9))
        for r in search(
            idx,
            ast.Bool(should=[ast.Term("rare"),
                             ast.Wildcard("head*", boost=0.1)]),
            size=2,
            use_wand=False,
        ).collect()
    ]
    got = [(int(d), round(float(s), 9)) for d, s in
           zip(out["docid"], out["score"])]
    assert got == want
    assert stats["total_blocks"]["set:0"] >= 40
    # 2 rare-candidate docs -> at most 2 blocks per member term decoded
    assert stats["decoded_blocks"]["set:0"] <= 2 * len(set_tids), stats
    assert (stats["decoded_blocks"]["set:0"]
            < stats["total_blocks"]["set:0"] / 4), stats


def test_phrase_with_range_rides_kernel(spark, small_transcripts,
                                        small_oracle):
    """Phrase/Wildcard conjunctions WITH doc-value ranges ride the mixed
    kernel: the range mask applies at the first term conjunct's decode
    (its inline dv stream carries the values).  When NO term conjunct
    exists ('"the data" AND turn_idx>2'), wand_candidates synthesizes
    the rarest required phrase leg as an unscored dv-carrier — a
    phrase match contains all its legs, so the leg intersects without
    changing the match set or the scores."""
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    store_positions=True, docvalue_cols=("turn_idx",)),
    )
    idx.postings.cache().count()
    nodes = [
        ast.Bool(must=[ast.Phrase(["the", "data"]), ast.Term("the"),
                       ast.Range("turn_idx", min=1, max=6)]),
        ast.Bool(must=[ast.Phrase(["the", "data"], slop=2),
                       ast.Term("error"),
                       ast.Range("turn_idx", min=2, max=None,
                                 min_inclusive=False)]),
        ast.Bool(must=[ast.Wildcard("tok04*"), ast.Term("the"),
                       ast.Range("turn_idx", min=0, max=4)]),
        ast.Filtered(
            query=ast.Bool(must=[ast.Phrase(["the", "data"]),
                                 ast.Term("the")]),
            filter=ast.Range("turn_idx", min=1, max=8),
        ),
        # phrase-only + range: the rarest leg carries the dv stream
        ast.Bool(must=[ast.Phrase(["the", "data"]),
                       ast.Range("turn_idx", min=1, max=6)]),
        ast.Bool(must=[ast.Phrase(["the", "data"], slop=2),
                       ast.Range("turn_idx", min=2, max=None,
                                 min_inclusive=False)]),
        ast.Filtered(query=ast.Phrase(["the", "data"]),
                     filter=ast.Range("turn_idx", min=1, max=8)),
        # set conjunct + range: the mask rides the set's own decode
        ast.Bool(must=[ast.Wildcard("tok04*"),
                       ast.Range("turn_idx", min=1, max=6)]),
        ast.Bool(must=[ast.Fuzzy("datb"),
                       ast.Range("turn_idx", min=2, max=8)]),
        # group conjunct + range (the hoist is skipped when only
        # ranges would remain in must — the group drives and its
        # member decodes carry the dv streams)
        ast.Bool(must=[ast.Bool(should=[ast.Term("error"),
                                        ast.Term("build")]),
                       ast.Range("turn_idx", min=1, max=6)]),
        # two groups + range: group 1 hoists to optionals, group 2
        # masks at its decode
        ast.Bool(must=[ast.Bool(should=[ast.Term("error"),
                                        ast.Term("build")]),
                       ast.Bool(should=[ast.Term("the"),
                                        ast.Term("data")]),
                       ast.Range("turn_idx", min=1, max=6)]),
        # set + phrase + range, no term conjunct: the set conjunct
        # carries the mask at its decode (no leg synthesis needed)
        ast.Bool(must=[ast.Wildcard("tok0*"), ast.Phrase(["the", "data"]),
                       ast.Range("turn_idx", min=1, max=8)]),
    ]
    for node in nodes:
        for size in (1, 5, 25):
            got = [(r["docid"], round(r["score"], 9)) for r in
                   search(idx, node, size=size).collect()]
            want = [(d, round(s, 9))
                    for d, s in small_oracle.search(node, size=size)]
            assert got == want, (node, size)
            slow = [(r["docid"], round(r["score"], 9)) for r in
                    search(idx, node, size=size, use_wand=False).collect()]
            assert got == slow, (node, size)
    # phrase-only + range classifies (the kernel serves it via the
    # synthesized leg carrier), and so does set-only + range (the
    # set's own decode carries the dv streams)
    assert classify(
        ast.Bool(must=[ast.Phrase(["the", "data"]),
                       ast.Range("turn_idx", min=1, max=6)])
    ) is not None
    assert classify(
        ast.Bool(must=[ast.Wildcard("tok04*"),
                       ast.Range("turn_idx", min=1, max=6)])
    ) is not None
