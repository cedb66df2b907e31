"""Per-hit score explanation (reference R3).

The reference returns Lucene's Explanation tree per hit when
`explain: true` (reference: src/bzzz/index_search.clj:314-315; the
expression-context explanation API is ExpressionContext.java:210-233).
Our explanation is the BM25 component breakdown per matched query term:

  _explain: array<struct<term, tf, df, idf, tf_component, term_score>>

summing term_score over the array reproduces the hit's score for
term/AND/OR queries (asserted in tests), which is exactly the
check a Lucene Explanation supports.  `term` is the dictionary key; an
extra field's terms ('<field>:<token>') score without norms, as in
every query plan.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bzzz_spark.build.indexer import BzzzIndex
from bzzz_spark.query import ast
from bzzz_spark.query.blocks import Blocks, decode
from bzzz_spark.query.executor import search, term_key
from bzzz_spark.query.scoring import idf as idf_fn
from bzzz_spark.query.scoring import tf_component_np


def _decoded(postings: DataFrame, term_ids: list[int], avgdl: float):
    """The given terms' postings → (term_id, docid, tf, tf_component),
    decoded by the kernels' decoder (query.blocks) from the blocks
    alone: dl is the inline norm, 0 for an extra field's norms-off
    postings, which the tf component scores as avgdl."""
    sub = postings.filter(
        F.col("term_id").isin([int(t) for t in term_ids])
    ).select("term_id", "segment", "first_docid", "last_docid", "count",
             "doc_gaps", "tfs", "dls")

    def dec(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            b = Blocks.from_frame(pdf)
            got = decode(b, np.arange(len(pdf)))
            yield pd.DataFrame({
                "term_id": np.repeat(b.term_id, b.count), "docid": got.d,
                "tf": got.tf,
                "tf_component": tf_component_np(got.tf, got.dl, avgdl),
            })

    return sub.mapInPandas(
        dec, "term_id long, docid long, tf long, tf_component double")


def explain_search(
    index: BzzzIndex, query, size: int = 20, page: int = 0
) -> DataFrame:
    """search() plus an `_explain` column of per-term BM25 components."""
    node = query if isinstance(query, ast.Query) else ast.parse_query(query)
    hits = search(index, node, size=size, page=page)
    n_docs, avgdl = index.scalar_stats()
    meta = index.lookup_terms({
        term_key(index, n.field_name, v)
        for n in ast.iter_nodes(node) if isinstance(n, (ast.Term, ast.Phrase))
        for v in (n.terms if isinstance(n, ast.Phrase) else [n.value])
    })
    if not meta:
        return hits.withColumn("_explain", F.array())
    spark = index.docs.sparkSession
    meta_df = spark.createDataFrame(
        [(t, tid, df, idf_fn(n_docs, df)) for t, (tid, df) in meta.items()],
        "term string, term_id long, df long, idf double",
    )
    parts = (
        _decoded(index.postings, [tid for tid, _df in meta.values()], avgdl)
        .join(F.broadcast(meta_df), "term_id")
        .join(hits.select("docid"), "docid", "left_semi")
        .withColumn("term_score", F.col("idf") * F.col("tf_component"))
    )
    expl = parts.groupBy("docid").agg(
        F.sort_array(
            F.collect_list(
                F.struct("term", "tf", "df", "idf", "tf_component", "term_score")
            )
        ).alias("_explain")
    )
    return hits.join(expl, "docid", "left").orderBy(
        F.col("score").desc(), F.col("docid").asc()
    )
