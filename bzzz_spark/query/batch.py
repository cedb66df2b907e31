"""Batched multi-query execution: N queries, one DataFrame.

Spark's unit of cost is the *job* — driver planning, task scheduling,
Arrow worker spin-up — a fixed tax that dwarfs the scoring itself when
a workload carries many queries (evaluation sets, offline relevance
sweeps, labeling passes over a fixed corpus).  ``search_many`` answers
a query set with the same planner and kernels as ``search`` and the
in-process serving path:

  parse / validate / normalize   every query, as search() does
  dictionary                     ONE lookup over every term and phrase
                                 leg in the batch, ONE expansion job
                                 over every Wildcard/Fuzzy pattern
  plan                           wand.plan_candidates per query
  kernels                        ONE postings read for every plan
                                 (wand.run_plans): each segment task
                                 runs each plan's block-max kernel on
                                 the rows of that plan's own terms
  fallback                       executor.execute for queries without a
                                 plan, unioned into the same DataFrame
  top-k                          row_number() over query_id

A kernel query's scores are therefore the kernel's own, bit for bit the
scores ``local_search`` returns.  Every index plans alike, a live
streaming index included: the kernels derive block bounds from the
stored impacts under the index's current statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bzzz_spark.build.indexer import BzzzIndex
from bzzz_spark.query import ast, wand
from bzzz_spark.query.executor import execute, term_key, validate_fields
from bzzz_spark.query.rewrite import normalize


def _warm_dictionary(index: BzzzIndex, nodes) -> None:
    """Fill the index's lookup and expansion memos for the whole batch
    in one dictionary read plus one expansion job, so planning and the
    executor fallback look up nothing per query."""
    keys: set[str] = set()
    patterns = []
    for node in nodes:
        for n in ast.iter_nodes(node):
            if isinstance(n, ast.Term):
                keys.add(term_key(index, n.field_name, n.value))
            elif isinstance(n, ast.Phrase):
                keys.update(term_key(index, n.field_name, t) for t in n.terms)
            elif isinstance(n, (ast.Wildcard, ast.Fuzzy)):
                patterns.append(n)
    if patterns:
        keys.update(t for exp in wand._expand_scoped_many(index, patterns)
                    for t in exp)
    if keys:
        index.lookup_terms(sorted(keys))


def search_many(
    index: BzzzIndex,
    queries: dict[str, ast.Query | dict | str],
    size: int = 10,
    page: int = 0,
) -> DataFrame:
    """Top-k for every query in one DataFrame.

    Returns (query_id, docid, score) in (query_id asc, score desc,
    docid asc) order — per query, exactly the rows ``search()`` returns
    with the same size/page.
    """
    nodes: dict[str, ast.Query] = {}
    for qid, q in queries.items():
        node = q if isinstance(q, ast.Query) else ast.parse_query(q)
        validate_fields(index, node)
        nodes[qid] = normalize(node)
    _warm_dictionary(index, nodes.values())

    plans = {}
    for qid, node in nodes.items():
        plan = wand.plan_candidates(index, node, (page + 1) * size)
        if plan is not None:
            plans[qid] = plan
    parts: list[DataFrame] = []
    runnable = {qid: p for qid, p in plans.items() if not p.empty}
    if runnable:
        parts.append(wand.run_plans(index, runnable))
    for qid, node in nodes.items():
        if qid not in plans:
            parts.append(execute(index, node).select(
                F.lit(qid).alias("query_id"), "docid", "score"
            ))

    if not parts:
        return index.docs.sparkSession.createDataFrame(
            [], "query_id string, docid long, score double"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("docid").asc()
    )
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(
            (F.col("__rn") > page * size) & (F.col("__rn") <= (page + 1) * size)
        )
        .drop("__rn")
        .orderBy("query_id", F.col("score").desc(), F.col("docid").asc())
    )
