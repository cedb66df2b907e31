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
  plan                           evaluate.plan per query: a block-max
                                 kernel plan, else the exhaustive one
  kernels                        ONE postings read for every plan
                                 (wand.run_plans): each segment task
                                 runs each plan's kernel on the rows
                                 of that plan's own terms (and, when a
                                 plan reads doc columns, its docs)
  top-k                          row_number() over query_id

Every query's scores are therefore its plan's own, bit for bit the
scores ``local_search`` returns.  Every index plans alike, a live
streaming index included: the kernels derive block bounds from the
stored impacts under the index's current statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bzzz_spark.build.indexer import BzzzIndex
from bzzz_spark.query import ast, wand
from bzzz_spark.query.evaluate import plan
from bzzz_spark.query.executor import validate_fields
from bzzz_spark.query.rewrite import normalize


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
    wand.lookup(index, nodes.values())  # fills the memos planning reads

    plans = {qid: plan(index, node, (page + 1) * size)
             for qid, node in nodes.items()}
    out = wand.run_plans(
        index, {qid: p for qid, p in plans.items() if not p.empty})

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
