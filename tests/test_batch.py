"""search_many parity: the batched one-job executor must return, per
query, exactly the rows search() returns (same docids, same scores,
same order) for every query shape in the batch — kernel plans and
exhaustive plans alike, mixed in one call."""

import math

from pyspark.sql import functions as F

from bzzz_spark.query import ast, wand
from bzzz_spark.query.batch import search_many
from bzzz_spark.query.evaluate import plan
from bzzz_spark.query.executor import search
from bzzz_spark.query.rewrite import normalize
from bzzz_spark.query.wand import plan_candidates


BATCH = {
    "term_head": ast.Term("the"),
    "term_rare": ast.Term("zzz"),
    "term_missing": ast.Term("nosuchterm"),
    "term_boost": ast.Term("error", boost=2.5),
    "and2": ast.Bool(must=[ast.Term("error"), ast.Term("query")]),
    "and3": ast.Bool(must=[ast.Term("the"), ast.Term("and"), ast.Term("data")]),
    "must_not": ast.Bool(must=[ast.Term("the")], must_not=[ast.Term("error")]),
    "should_msm2": ast.Bool(
        should=[ast.Term("error"), ast.Term("query"), ast.Term("data")],
        minimum_should_match=2,
    ),
    "must_plus_should": ast.Bool(
        must=[ast.Term("the")], should=[ast.Term("error")], boost=1.5
    ),
    "only_must_not": ast.Bool(must_not=[ast.Term("the")]),
    "missing_must": ast.Bool(must=[ast.Term("the"), ast.Term("nosuchterm")]),
    # doc-level leaves: shared docs scan, score := boost (executor parity)
    "term_range": ast.Bool(
        must=[ast.Term("error"), ast.Range("turn_idx", min=1, max=5)]
    ),
    "range_only": ast.Bool(
        must=[ast.Range("turn_idx", min=2, max_inclusive=False, max=6)]
    ),
    "match_all": ast.MatchAll(boost=3.0),
    "range_not": ast.Bool(
        must=[ast.Term("error")],
        must_not=[ast.Range("turn_idx", min=0, max=2)],
    ),
}

FALLBACK = {
    "dismax": ast.DisMax(
        queries=[ast.Term("error"), ast.Term("query")], tie_breaker=0.3
    ),
    "nested": ast.Bool(
        must=[ast.Bool(should=[ast.Term("error"), ast.DisMax(
            queries=[ast.Term("the"), ast.Term("data")]
        )])]
    ),
    "constant": ast.ConstantScore(ast.Term("the"), boost=2.0),
    "range": ast.Bool(
        must=[ast.Term("error"), ast.Range("turn_idx", min=1, max=5)]
    ),
    # required disjunction groups: planned like every other kernel
    # shape — parity must hold either way
    "groups2": ast.Bool(must=[
        ast.Bool(should=[ast.Term("error"), ast.Term("query")]),
        ast.Bool(should=[ast.Term("the"), ast.Term("data")]),
    ]),
    "or_in_and": ast.Bool(must=[
        ast.Term("error"),
        ast.Bool(should=[ast.Term("the"), ast.Term("data")]),
    ], must_not=[ast.Term("dup")]),
}


def _rows(df):
    return [(r["docid"], r["score"]) for r in df.collect()]


def _assert_batch_matches(index, queries, size=10, page=0):
    got = search_many(index, queries, size=size, page=page).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    for qid, node in queries.items():
        want = _rows(search(index, node, size=size, page=page))
        have = by_q.get(qid, [])
        assert [d for d, _ in have] == [d for d, _ in want], (
            f"{qid}: rank mismatch\n got={have}\nwant={want}"
        )
        for (_, gs), (_, ws) in zip(have, want):
            assert math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12), (
                qid, have, want,
            )


def test_batch_shared_scan_parity(small_index):
    _assert_batch_matches(small_index, BATCH)


def test_batch_mixed_with_fallback_shapes(small_index):
    _assert_batch_matches(small_index, {**BATCH, **FALLBACK})


def test_batch_paging(small_index):
    _assert_batch_matches(
        small_index, {"head": ast.Term("the"), "and2": BATCH["and2"]},
        size=5, page=1,
    )


def test_batch_field_terms(spark, small_transcripts):
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    extra_fields=(("role", "keyword"),)),
    )
    idx.postings.cache().count()
    queries = {
        "field_and": ast.Bool(
            must=[ast.Term("error"), ast.Term("assistant", field_name="role")]
        ),
        "plain": ast.Term("error"),
    }
    _assert_batch_matches(idx, queries)
    idx.postings.unpersist()


def test_batch_job_count_is_constant(small_index, monkeypatch):
    """The defining property: Spark job count is a function of the PLAN
    SHAPE (AQE materializes each shuffle stage as a job), not of the
    number of queries — a 15-query batch must not run more jobs than a
    3-query batch.  O(K) execution (one action per query) would fail
    this by construction."""
    spark = small_index.docs.sparkSession
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_for(queries, group):
        sc.setJobGroup(group, "probe", True)
        try:
            rows = search_many(small_index, queries, size=10).collect()
        finally:
            sc.setJobGroup(None, None, False)
        assert len(rows) > 0
        return len(tracker.getJobIdsForGroup(group))

    small = {k: BATCH[k] for k in ["term_head", "and2", "must_not"]}
    # every query plans through the one planner entry — a kernel plan,
    # or the exhaustive plan for Range/MatchAll without doc-values on
    # this index (no docvalue_cols) — and every plan that can match
    # runs in the batch's one run_plans call
    wide = BATCH
    runs, run_plans = [], wand.run_plans

    def spy(index, plans):
        runs.append(set(plans))
        return run_plans(index, plans)

    monkeypatch.setattr(wand, "run_plans", spy)
    n_small = jobs_for(small, "batch-probe-small")
    n_full = jobs_for(wide, "batch-probe-full")
    assert runs[-1] == {
        qid for qid, node in wide.items()
        if not plan(small_index, normalize(node), 10).empty
    } == set(wide) - {"term_missing", "only_must_not", "missing_must"}
    assert n_full <= n_small + 2, (
        f"job count grew with batch width: {n_small} jobs for "
        f"{len(small)} queries but {n_full} for {len(wide)}"
    )


def test_batch_is_one_job(small_index):
    """The whole shared-scan batch must collapse into ONE Spark action —
    that's the point.  Proxy check: the returned plan is a single
    DataFrame and no per-query collect happens before the caller's
    action (search_many itself never calls .collect on row data;
    only the dictionary meta lookup collects, and that is bounded by
    the query set's vocabulary, not the corpus)."""
    df = search_many(small_index, BATCH, size=10)
    # lazy: no action run yet; one explain, one schema
    assert df.columns == ["query_id", "docid", "score"]
    n = df.count()
    assert n > 0
    # every batchable query that matches produced at most `size` rows
    per = {r["query_id"]: r["cnt"] for r in
           df.groupBy("query_id").agg(F.count("*").alias("cnt")).collect()}
    assert all(c <= 10 for c in per.values())
    assert "term_missing" not in per
    assert "only_must_not" not in per
    assert "missing_must" not in per


def test_batch_dismax_fast_path_parity(small_index, small_oracle):
    """DisMax-of-terms rides the shared scan (not the fallback) and
    matches both the per-query executor and the oracle."""
    from bzzz_spark.query.batch import search_many
    from bzzz_spark.query.executor import search

    qs = {
        "dm1": ast.DisMax(
            queries=[ast.Term("the"), ast.Term("error", boost=2.0)],
            tie_breaker=0.3,
        ),
        "dm0": ast.DisMax(  # tie 0: pure max
            queries=[ast.Term("data"), ast.Term("query")], tie_breaker=0.0
        ),
        "dm_missing": ast.DisMax(
            queries=[ast.Term("zz_nope"), ast.Term("error")], tie_breaker=0.5
        ),
        "plain": ast.Term("the"),
    }
    rows = search_many(small_index, qs, size=10).collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    import math

    for qid, node in qs.items():
        single = [
            (r["docid"], r["score"])
            for r in search(small_index, node, size=10).collect()
        ]
        oracle = small_oracle.search(node, size=10)
        g = got.get(qid, [])
        assert [d for d, _ in g] == [d for d, _ in single] == [
            d for d, _ in oracle
        ], qid
        for (_, a), (_, b), (_, c) in zip(g, single, oracle):
            assert math.isclose(a, b, rel_tol=1e-9)
            assert math.isclose(a, c, rel_tol=1e-6)


def test_batch_phrases_share_one_positional_scan(spark, small_transcripts):
    """Phrase leaves ride the batch's shared scan (r4, late): every
    distinct (terms, slop) phrase in the batch evaluates inside ONE
    positional mapInPandas job, with per-query parity vs search() in
    every role (must / should / must_not, boosts, slop, OOV legs)."""
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    store_positions=True),
    )
    idx.postings.cache().count()
    queries = {
        "ph_only": ast.Phrase(["the", "data"]),
        "ph_slop": ast.Phrase(["error", "query"], slop=3, boost=2.0),
        "ph_and_term": ast.Bool(
            must=[ast.Phrase(["the", "data"]), ast.Term("error")]
        ),
        "ph_should": ast.Bool(
            should=[ast.Phrase(["the", "data"]), ast.Term("error")],
            minimum_should_match=1,
        ),
        "ph_not": ast.Bool(
            must=[ast.Term("the")],
            must_not=[ast.Phrase(["the", "data"])],
        ),
        "ph_oov": ast.Bool(
            must=[ast.Term("the"), ast.Phrase(["nosuchterm", "data"])]
        ),
        "ph_oov_not": ast.Bool(
            must=[ast.Term("error")],
            must_not=[ast.Phrase(["nosuchterm", "data"])],
        ),
        "ph_dup": ast.Bool(
            must=[ast.Phrase(["the", "data"]), ast.Phrase(["the", "data"])]
        ),
        "plain": ast.Term("error"),
    }
    # all these shapes have a kernel plan, except a phrase under
    # must_not, which takes the exhaustive plan
    for qid, node in queries.items():
        if qid not in ("ph_not", "ph_oov_not"):
            assert plan_candidates(idx, normalize(node), 10) is not None, qid
    _assert_batch_matches(idx, queries)
    idx.postings.unpersist()


def test_batch_multiterm_shared_scan_parity(small_index):
    """Wildcard/Fuzzy leaves ride the batch's shared postings decode as
    constant-score term sets (r4, late): per-query parity vs search()
    in every role (must / should / must_not), with boosts, duplicates,
    fuzzy edit distance, and OOV patterns (which must match nothing in
    must and exclude nothing in must_not)."""

    queries = {
        "w_only": ast.Wildcard("err*"),
        "w_boost": ast.Wildcard("err*", boost=2.5),
        "w_and_term": ast.Bool(
            must=[ast.Term("the"), ast.Wildcard("err*")]
        ),
        "w_should": ast.Bool(
            should=[ast.Wildcard("err*"), ast.Term("query")],
            minimum_should_match=1,
        ),
        "w_not": ast.Bool(
            must=[ast.Term("the")], must_not=[ast.Wildcard("err*")]
        ),
        "w_oov": ast.Bool(
            must=[ast.Term("the"), ast.Wildcard("zzzznope*")]
        ),
        "w_oov_not": ast.Bool(
            must=[ast.Term("the")], must_not=[ast.Wildcard("zzzznope*")]
        ),
        "w_dup": ast.Bool(
            must=[ast.Wildcard("err*"), ast.Wildcard("err*")]
        ),
        "fz": ast.Fuzzy("erorr", max_edits=2),
        "fz_and": ast.Bool(
            must=[ast.Fuzzy("queyr", max_edits=2), ast.Term("the")]
        ),
        "plain": ast.Term("error"),
    }
    # all these shapes have a kernel plan, not the exhaustive one
    for qid, node in queries.items():
        assert plan_candidates(small_index, normalize(node), 10) is not None, qid
    _assert_batch_matches(small_index, queries)


def test_batch_dismax_mixed_members(spark, small_transcripts):
    """Dis-max members beyond plain terms ride the shared scan (r4,
    late): Phrase members evaluate in the shared positional scan,
    Wildcard/Fuzzy members as constant-score term sets — combiner
    max + tie*(sum - max) parity vs the per-query executor."""
    from bzzz_spark.build.indexer import IndexConfig, build_index

    idx = build_index(
        small_transcripts,
        IndexConfig(block_size=16, segment_size=64, num_partitions=4,
                    store_positions=True),
    )
    idx.postings.cache().count()
    queries = {
        "dm_phrase": ast.DisMax(
            queries=[ast.Phrase(["the", "data"]), ast.Term("error")],
            tie_breaker=0.4,
        ),
        "dm_wild": ast.DisMax(
            queries=[ast.Wildcard("err*"), ast.Term("query", boost=2.0)],
            tie_breaker=0.2,
        ),
        "dm_all3": ast.DisMax(
            queries=[
                ast.Term("the"),
                ast.Phrase(["error", "query"], slop=3),
                ast.Fuzzy("erorr", max_edits=2),
            ],
            tie_breaker=0.5,
            boost=1.5,
        ),
        "dm_oov_wild": ast.DisMax(
            queries=[ast.Wildcard("zzzznope*"), ast.Term("error")],
            tie_breaker=0.3,
        ),
        "plain": ast.Term("error"),
    }
    _assert_batch_matches(idx, queries)
    idx.postings.unpersist()


def test_batch_plans_live_index(spark, tmp_path, small_pdf, monkeypatch):
    """A live streaming index plans a kernel for every query, as a built
    one does: its blocks store (tf, dl) impacts, and the kernels bound
    them under the live statistics.  The second micro-batch's docs are
    five times longer, so avgdl moves between the deltas; the answers
    still equal search()'s and the oracle's."""
    from bzzz_spark.build.indexer import IndexConfig
    from bzzz_spark.fixtures import to_spark
    from bzzz_spark.oracle.pyoracle import PyIndex
    from bzzz_spark.query import wand
    from bzzz_spark.streaming.ingest import StreamingIndexer

    pdf = small_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    half = len(pdf) // 2
    pdf.loc[half:, "text"] = pdf.loc[half:, "text"].map(
        lambda t: " ".join([t] * 5))
    ing = StreamingIndexer(
        spark, str(tmp_path / "live"),
        IndexConfig(block_size=16, segment_size=64, num_partitions=2),
    )
    for i, chunk in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        ing.process_batch(to_spark(spark, chunk), epoch_id=i)
    live = ing.live_index()
    queries = {
        "term_head": BATCH["term_head"],
        "term_boost": BATCH["term_boost"],
        "and3": BATCH["and3"],
        "must_not": BATCH["must_not"],
        "should_msm2": BATCH["should_msm2"],
        "must_plus_should": BATCH["must_plus_should"],
        "dismax": FALLBACK["dismax"],
        "groups2": FALLBACK["groups2"],
    }
    for qid, node in queries.items():
        assert plan_candidates(live, normalize(node), 10) is not None, qid
    _assert_batch_matches(live, queries)
    planned, run_plans = [], wand.run_plans

    def spy(index, plans):
        planned.extend(plans)
        return run_plans(index, plans)

    monkeypatch.setattr(wand, "run_plans", spy)
    got = {}
    for r in search_many(live, queries, size=10).collect():
        got.setdefault(r["query_id"], []).append((r["docid"], r["score"]))
    assert sorted(planned) == sorted(queries)  # every query ran a kernel
    oracle = PyIndex(pdf.to_dict("records"))
    for qid, node in queries.items():
        want = oracle.search(node, size=10)
        assert [d for d, _ in got[qid]] == [d for d, _ in want], qid
        for (_, gs), (_, ws) in zip(got[qid], want):
            assert math.isclose(gs, ws, rel_tol=1e-9), (qid, gs, ws)
