"""Distributed n-gram language-model perplexity scoring (CCNet-style).

CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") ranks web documents by the perplexity of
a Kneser-Ney 5-gram KenLM model and keeps the low-perplexity head;
Gopher and LLaMA inherit the same signal.  A 100 TB pipeline wants the
LM *estimation* to be distributed too — the classic MapReduce n-gram
counting shape of Brants et al. 2007 ("Large Language Models in
Machine Translation") — so this module implements both halves with
Spark primitives and a pinned, oracle-checkable smoothing rule:

- :func:`train_bigram_lm` — token unigram + bigram counts as two
  groupBy aggregations (map-side partial combine; the shuffle key is
  the gram itself, uniformly distributed); bigrams below ``min_count``
  are dropped (Brants et al.'s count cutoff) and fall back to the
  unseen-mass estimate.
- :func:`perplexity` — per-document mean token log-probability and
  perplexity under add-k smoothed bigram estimates

      P(w2 | w1) = (c(w1 w2) + k) / (c(w1) + k * V)

  where c() are corpus token counts, V is the unigram vocabulary size,
  and an unseen history (c(w1) = 0, cross-corpus scoring) degrades to
  the uniform 1/V.  Tokenization is the engine's pinned analyzer
  (analysis/tokenizer.py — build/query/oracle all share it).

Kneser-Ney itself is deliberately NOT replicated: its backoff weights
make the score a function of global discount statistics that shift
with every corpus increment, while add-k over counts is exactly
reproducible in ANSI SQL or plain Python, term for term.  The *signal*
(relative ranking of clean vs junk text) is what the pipeline filters
on, and that survives the smoothing swap.

Scale shapes, by scoring mode:

- ``mode="broadcast"`` — the LM (vocabulary-bounded, count-cutoff
  pruned; CCNet's full English KenLM is ~4 GB) is collected and
  broadcast; scoring is then a PURE MAP stage over Arrow batches —
  zero shuffle, scales with scan bandwidth like functions/pii.py.
  Guarded by ``max_broadcast_rows``.
- ``mode="join"`` — no size assumption: explode each document's
  bigrams once, join the counts tables on the gram key (AQE picks
  broadcast-hash when the aggregated LM turns out small), fold back
  with one groupBy on the document key.  Two shuffles of the bigram
  stream; the stream is linear in corpus tokens, never pairwise.

Both modes produce identical numbers (tests/test_lm.py fuzzes the
equality); pick per deployment.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from bzzz_spark.analysis.tokenizer import standard_tokenize

PPL_OUTPUT_COLS = ("n_scored_bigrams", "logprob_per_token", "perplexity")


@dataclass(frozen=True)
class BigramLM:
    """A trained add-k bigram model.

    ``unigrams`` (w, c_uni) and ``bigrams`` (w1, w2, c_bi) stay
    DataFrames — at web scale they are aggregates the engine never
    collects unless broadcast-mode scoring asks for it.  ``vocab_size``
    is the unigram row count (the V of the smoothing rule), captured at
    train time because every score needs it driver-side.
    """

    unigrams: DataFrame
    bigrams: DataFrame
    vocab_size: int
    k: float
    min_count: int


def _guard_clash(df: DataFrame, op: str) -> None:
    clash = set(PPL_OUTPUT_COLS) & set(df.columns)
    if clash:
        raise ValueError(
            f"{op} writes output column(s) {sorted(clash)} "
            "which already exist on the input — rename them first"
        )


def _bigram_structs(tokens: Column) -> Column:
    """array<struct<w1,w2>> of adjacent token pairs — JVM-side
    (slice + zip_with run in whole-stage codegen), empty for docs with
    fewer than two tokens."""
    n = F.greatest(F.size(tokens) - 1, F.lit(0))
    return F.zip_with(
        F.slice(tokens, 1, n),
        F.slice(tokens, 2, n),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )


def train_bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    k: float = 0.1,
    min_count: int = 1,
) -> BigramLM:
    """Estimate the bigram LM from a corpus — two groupBy counts.

    ``min_count`` prunes BIGRAM rows only (count cutoff — pruned pairs
    score as unseen); unigrams are kept whole because they define both
    V and the history mass.  Raises on an empty corpus (V = 0 would
    make every probability 0/0).
    """
    if k <= 0:
        raise ValueError(f"add-k smoothing needs k > 0, got {k}")
    toks = standard_tokenize(F.col(text_col))
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )
    bi = (
        df.select(F.explode(_bigram_structs(toks)).alias("g"))
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_bi"))
    )
    if min_count > 1:
        bi = bi.filter(F.col("c_bi") >= min_count)
    vocab_size = uni.count()
    if vocab_size == 0:
        raise ValueError("cannot train a bigram LM on an empty corpus")
    return BigramLM(uni, bi, vocab_size, float(k), int(min_count))


def _perplexity_join(
    df: DataFrame, lm: BigramLM, text_col: str, id_col: str
) -> DataFrame:
    toks = standard_tokenize(F.col(text_col))
    pairs = df.select(
        F.col(id_col).alias("__bzzz_ppl_id"),
        F.explode(_bigram_structs(toks)).alias("g"),
    ).select("__bzzz_ppl_id", "g.w1", "g.w2")
    kv = F.lit(lm.k * lm.vocab_size)
    scored = (
        pairs.join(lm.bigrams, on=["w1", "w2"], how="left")
        .join(lm.unigrams.withColumnRenamed("w", "w1"), on="w1", how="left")
        .select(
            "__bzzz_ppl_id",
            F.log(
                (F.coalesce(F.col("c_bi"), F.lit(0)) + F.lit(lm.k))
                / (F.coalesce(F.col("c_uni"), F.lit(0)) + kv)
            ).alias("__bzzz_ppl_lp"),
        )
    )
    agg = scored.groupBy("__bzzz_ppl_id").agg(
        F.count(F.lit(1)).alias("n_scored_bigrams"),
        F.avg("__bzzz_ppl_lp").alias("logprob_per_token"),
    )
    out = df.join(
        agg, on=F.col(id_col) == F.col("__bzzz_ppl_id"), how="left"
    ).drop("__bzzz_ppl_id")
    return out.select(
        "*",
        F.exp(-F.col("logprob_per_token")).alias("perplexity"),
    ).withColumn(
        "n_scored_bigrams",
        F.coalesce(F.col("n_scored_bigrams"), F.lit(0).cast("long")),
    )


def _perplexity_broadcast(
    df: DataFrame, lm: BigramLM, text_col: str, max_broadcast_rows: int
) -> DataFrame:
    n_bi = lm.bigrams.count()
    if lm.vocab_size + n_bi > max_broadcast_rows:
        raise ValueError(
            f"LM too large to broadcast ({lm.vocab_size} unigrams + "
            f"{n_bi} bigrams > max_broadcast_rows={max_broadcast_rows}) "
            "— raise min_count, raise the cap, or use mode='join'"
        )
    uni_map = {r["w"]: r["c_uni"] for r in lm.unigrams.collect()}
    bi_map = {(r["w1"], r["w2"]): r["c_bi"] for r in lm.bigrams.collect()}
    spark = df.sparkSession
    b_uni = spark.sparkContext.broadcast(uni_map)
    b_bi = spark.sparkContext.broadcast(bi_map)
    k, kv = lm.k, lm.k * lm.vocab_size
    cols = list(df.columns)
    out_schema = StructType(
        list(df.schema.fields)
        + [
            StructField("n_scored_bigrams", LongType()),
            StructField("logprob_per_token", DoubleType()),
            StructField("perplexity", DoubleType()),
        ]
    )

    def run(it: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from bzzz_spark.analysis.tokenizer import py_tokenize

        uni_d, bi_d = b_uni.value, b_bi.value
        for pdf in it:
            # flatten the batch to ONE bigram frame so the count
            # lookups run as C-speed hash maps (Series.map) instead of
            # a per-token Python loop, then fold back with a reduceat
            # over the per-doc bigram counts
            tok_lists = [
                py_tokenize(t) if isinstance(t, str) else []
                for t in pdf[text_col]
            ]
            n_bi = np.array(
                [max(len(ws) - 1, 0) for ws in tok_lists], dtype=np.int64
            )
            w1 = pd.Series(
                [w for ws in tok_lists for w in ws[:-1]], dtype=object
            )
            w2 = pd.Series(
                [w for ws in tok_lists for w in ws[1:]], dtype=object
            )
            c_bi = (
                pd.Series(zip(w1, w2), dtype=object).map(bi_d)
                .fillna(0.0).to_numpy(dtype=np.float64)
            )
            c_uni = w1.map(uni_d).fillna(0.0).to_numpy(dtype=np.float64)
            lp_all = np.log((c_bi + k) / (c_uni + kv))
            starts = np.concatenate(([0], np.cumsum(n_bi)[:-1]))
            scored = n_bi > 0
            sums = np.zeros(len(pdf), dtype=np.float64)
            if lp_all.size:
                # reduceat needs strictly valid offsets; empty docs
                # share their successor's start, so mask them after
                sums[scored] = np.add.reduceat(lp_all, starts[scored])
            lp = np.divide(
                sums, n_bi, out=np.full(len(pdf), np.nan), where=scored
            )
            pdf = pdf[cols].copy()
            pdf["n_scored_bigrams"] = pd.Series(n_bi, dtype="int64")
            pdf["logprob_per_token"] = pd.Series(lp, dtype="float64")
            pdf["perplexity"] = pd.Series(np.exp(-lp), dtype="float64")
            yield pdf

    return df.mapInPandas(run, out_schema)


def perplexity(
    df: DataFrame,
    lm: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "join",
    max_broadcast_rows: int = 5_000_000,
) -> DataFrame:
    """Score each document's text under ``lm``.  Appends (reserved —
    raises on clash):

    - n_scored_bigrams: number of adjacent token pairs scored
      (= token count - 1; 0 for docs with < 2 tokens)
    - logprob_per_token: mean natural-log bigram probability
      (NULL when n_scored_bigrams = 0)
    - perplexity: exp(-logprob_per_token) — CCNet's filter signal,
      lower = more natural under the training corpus

    ``mode="join"`` (default) needs ``id_col`` to be a unique document
    key (the per-doc fold groups on it); ``mode="broadcast"`` needs no
    key at all — it is a pure map stage (see module docstring for the
    scale trade-off).
    """
    _guard_clash(df, "perplexity")
    if mode == "join":
        if id_col not in df.columns:
            raise ValueError(
                f"mode='join' folds per document on id_col={id_col!r}, "
                "which is not a column of the input"
            )
        return _perplexity_join(df, lm, text_col, id_col)
    if mode == "broadcast":
        return _perplexity_broadcast(df, lm, text_col, max_broadcast_rows)
    raise ValueError(f"unknown mode {mode!r} (use 'join' or 'broadcast')")
