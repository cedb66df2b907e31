"""Per-hit score explanation (reference R3).

The reference returns Lucene's Explanation tree per hit when
`explain: true` (reference: src/bzzz/index_search.clj:314-315; the
expression-context explanation API is ExpressionContext.java:210-233).
Our explanation is the BM25 component breakdown per matched query term:

  _explain: array<struct<term, tf, df, idf, tf_component, term_score>>

summing term_score over the array reproduces the hit's score for
term/AND/OR queries (asserted in tests), which is exactly the
check a Lucene Explanation supports.  `term` is the dictionary key; an
extra field's terms ('<field>:<token>') score without norms, as in the
executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bzzz_spark.build.indexer import BzzzIndex
from bzzz_spark.query import ast
from bzzz_spark.query.executor import (
    decode_postings,
    extra_field_map,
    search,
    term_key,
)
from bzzz_spark.query.scoring import idf as idf_fn


def explain_search(
    index: BzzzIndex, query, size: int = 20, page: int = 0
) -> DataFrame:
    """search() plus an `_explain` column of per-term BM25 components."""
    node = query if isinstance(query, ast.Query) else ast.parse_query(query)
    hits = search(index, node, size=size, page=page)
    n_docs, avgdl = index.scalar_stats()
    extra = extra_field_map(index)
    nonorm = {  # dictionary key -> scored without norms
        term_key(index, n.field_name, v): n.field_name in extra
        for n in ast.iter_nodes(node) if isinstance(n, (ast.Term, ast.Phrase))
        for v in (n.terms if isinstance(n, ast.Phrase) else [n.value])
    }
    meta = index.lookup_terms(nonorm)
    if not meta:
        return hits.withColumn("_explain", F.array())
    spark = index.docs.sparkSession
    meta_df = spark.createDataFrame(
        [(t, tid, df, idf_fn(n_docs, df), nonorm[t])
         for t, (tid, df) in meta.items()],
        "term string, term_id long, df long, idf double, nonorm boolean",
    )
    decoded = decode_postings(
        index.postings, [tid for tid, _df in meta.values()], avgdl
    )
    parts = (
        decoded.join(F.broadcast(meta_df), "term_id")
        .join(hits.select("docid"), "docid", "left_semi")
        .withColumn("tf_component", F.when(F.col("nonorm"), F.col("tfc_nn"))
                    .otherwise(F.col("tfc")))
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
