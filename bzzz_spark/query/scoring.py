"""BM25 scoring — the single source of truth.

The reference never configures a Similarity, so Lucene 4.10 scores with
classic TF-IDF (reference: src/java/bzzz/java/query/ExpressionContext.java:263-270
holds its only explicit scoring math).  Our build spec pins modern BM25
(k1=1.2, b=0.75) instead; this module is the ONE place the formula
lives.  The build's block-max bounds (numpy), the kernels, the
pure-Python oracle and the Spark Column expressions all use the same
definition:

    idf(N, df)        = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfc(tf, dl, avgdl) = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score(term, doc)  = idf * tfc          (summed over query terms)

Deviations from Lucene's BM25Similarity, pinned deliberately:
- exact dl (Lucene quantizes document length into a 1-byte norm);
- the classic (k1+1) numerator factor (Lucene ≥ 7 drops it; the ranking
  is unchanged, absolute scores differ by the constant factor).

All float math is float64 end-to-end; the rank oracle asserts exact
ranks and scores to 1e-9 relative tolerance.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from bzzz_spark import BM25_B, BM25_K1


def idf(N: float, df: float) -> float:
    return math.log(1.0 + (N - df + 0.5) / (df + 0.5))


def idf_np(N: float, df: np.ndarray) -> np.ndarray:
    return np.log(1.0 + (N - df + 0.5) / (df + 0.5))


def tf_component_np(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    return tf * (BM25_K1 + 1.0) / (
        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
    )


def score_np(
    tf: np.ndarray, dl: np.ndarray, df: float, N: float, avgdl: float
) -> np.ndarray:
    return idf_np(N, np.asarray(df, dtype=np.float64)) * tf_component_np(
        tf.astype(np.float64), dl.astype(np.float64), avgdl
    )


def tfc_col(tf: Column, dl: Column, avgdl: Column | float) -> Column:
    """The BM25 tf component alone (phrase scoring multiplies this by a
    SUM of per-term idfs — Lucene PhraseQuery's weight model)."""
    avgdl = F.lit(avgdl) if not isinstance(avgdl, Column) else avgdl
    tf = tf.cast("double")
    dl = dl.cast("double")
    return (
        tf
        * F.lit(BM25_K1 + 1.0)
        / (tf + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dl / avgdl))
    )


def score_col(
    tf: Column, dl: Column, df: Column, N: Column | float, avgdl: Column | float
) -> Column:
    """BM25 per-(term, doc) score as a Spark Column (JVM-side, codegen)."""
    N = F.lit(N) if not isinstance(N, Column) else N
    avgdl = F.lit(avgdl) if not isinstance(avgdl, Column) else avgdl
    tf = tf.cast("double")
    dl = dl.cast("double")
    df = df.cast("double")
    idf_c = F.log(F.lit(1.0) + (N - df + F.lit(0.5)) / (df + F.lit(0.5)))
    tfc = (
        tf
        * F.lit(BM25_K1 + 1.0)
        / (tf + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dl / avgdl))
    )
    return idf_c * tfc

