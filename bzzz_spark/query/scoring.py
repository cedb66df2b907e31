"""BM25 scoring — the single source of truth.

The reference never configures a Similarity, so Lucene 4.10 scores with
classic TF-IDF (reference: src/java/bzzz/java/query/ExpressionContext.java:263-270
holds its only explicit scoring math).  Our build spec pins modern BM25
(k1=1.2, b=0.75) instead; this module is the ONE place the formula
lives, in numpy.  The block-max kernels' scores and their pruning
bounds (query.blocks.impacts_max_tfc, over each block's stored (tf, dl)
impacts), the exhaustive executor's decode (executor.decode_postings)
and explain all compute it here; the pure-Python oracle
(oracle.pyoracle) takes only idf from here and is otherwise an
independent implementation of the same definition:

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

import numpy as np

from bzzz_spark import BM25_B, BM25_K1


def idf_np(N: float, df: np.ndarray) -> np.ndarray:
    return np.log(1.0 + (N - df + 0.5) / (df + 0.5))


def idf(N: float, df: float) -> float:
    """idf_np of one df.  One computation on purpose: math.log
    disagrees with numpy's log by 1 ulp on ~30 % of df values, so a
    second idf would let two paths score one posting differently."""
    return float(idf_np(N, np.float64(df)))


def tf_component_np(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """tfc of postings; dl 0 — the norms-off sentinel of the blocks'
    inline norms — scores as avgdl (length factor 1)."""
    dl = np.where(dl == 0, avgdl, dl)
    return tf * (BM25_K1 + 1.0) / (
        tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl)
    )
