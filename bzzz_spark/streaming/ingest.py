"""Structured Streaming ingestion + incremental index deltas.

The reference is batch-only; its freshness story is the 5-second
SearcherManager refresh (reference: src/bzzz/core.clj:209,
index_directory.clj:291-297 — data visible ≤5 s after store).  The
Spark-native analog: stream new transcript turns into the docs table
and maintain a DELTA postings table per micro-batch; queries read the
union (Lucene's in-memory segment + flush model, expressed as
DataFrames).

Consistency design:
- docids continue the dense sequence from the ingested max (stable
  (conv_id, turn_idx) order within a batch), assigned with the same
  two-pass range-partition scheme as the batch build (build/ids.py) —
  no single-partition coalesce anywhere, so a large micro-batch encodes
  with full parallelism;
- sequence continuations are recovered from STORAGE (max docid /
  term_id already written), not a driver counter, so a restarted
  streaming job resumes the dense sequences correctly;
- term_ids come from a PERSISTENT term map (term → term_id) that grows
  monotonically across batches — batch-local dictionaries would collide;
- delta postings use the SAME tokenization (indexer._full_tf: extra
  fields, positions and doc-values, as the config asks) and the SAME
  block codec/segment layout, so every query plan works unchanged;
- a delta block stores its (tf, dl) impacts, not a score: queries
  derive every bound under the live index's current N, df and avgdl,
  so a live index is planned and pruned like a built one, and a
  micro-batch encodes from its own rows alone — O(batch), with no
  collection statistic computed at append time;
- compaction = checkpointed full rebuild (Lucene forceMerge analog,
  reference index_directory.clj:226-227): one fat segment layout
  instead of one set of blocks per micro-batch.

`foreachBatch` gives exactly-once appends locally; on a real deployment
the sinks are Iceberg tables with snapshot-atomic commits.
"""

from __future__ import annotations

import os
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bzzz_spark.analysis.tokenizer import standard_tokenize
from bzzz_spark.build.checkpoint import require_impacts
from bzzz_spark.build.ids import assign_sequential_ids
from bzzz_spark.build.indexer import (
    BzzzIndex,
    IndexConfig,
    _full_tf,
    build_posting_rows,
    check_docvalue_cols,
    encode_postings,
)


class StreamingIndexer:
    """Maintains docs + term map + delta postings under `out_dir` from a
    stream of transcript rows (conv_id, turn_idx, role, text, tool, ts)."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 cfg: IndexConfig | None = None):
        self.spark = spark
        self.out = out_dir
        self.cfg = cfg or IndexConfig()

    def _p(self, name: str) -> str:
        return f"{self.out}/{name}"

    def _next_id(self, table: str, id_col: str) -> int:
        """Sequence continuation from what storage has already committed
        (max + 1) — survives driver restarts, unlike an in-memory
        counter; the max() over a single id column is a cheap columnar
        scan with parquet min/max pruning."""
        if not os.path.exists(self._p(table)):
            return 0
        row = (
            self.spark.read.parquet(self._p(table))
            .agg(F.max(id_col).alias("m"))
            .collect()[0]
        )
        return 0 if row["m"] is None else int(row["m"]) + 1

    def process_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """foreachBatch body: dense docids continuing the sequence,
        tokenize, persistent term ids, append docs + delta postings.
        Every stage keeps the batch's full partitioning — the two-pass
        offset scheme (build/ids.py) replaces the old coalesce(1), which
        serialized each micro-batch through one task."""
        if batch.rdd.isEmpty():
            return
        check_docvalue_cols(batch, self.cfg)
        next_docid = self._next_id("docs", "docid")
        rows = assign_sequential_ids(
            batch, list(self.cfg.key_cols), "docid"
        ).withColumn("docid", (F.col("docid") + F.lit(next_docid)).cast("long"))
        docs = rows.withColumn(
            "tokens", standard_tokenize(F.col(self.cfg.text_col))
        ).withColumn("dl", F.size("tokens"))
        docs.cache()
        n_new = docs.count()
        if n_new == 0:
            return
        docs.write.mode("append").parquet(self._p("docs"))

        # the batch build's tokenization: text, extra fields, positions
        # and doc-values, as the config asks
        tf = _full_tf(docs, self.cfg)
        batch_terms = tf.select("term").distinct()
        if os.path.exists(self._p("termmap")):
            known = self.spark.read.parquet(self._p("termmap"))
            new_terms = batch_terms.join(known, "term", "left_anti")
        else:
            new_terms = batch_terms
        next_term_id = self._next_id("termmap", "term_id")
        new_map = assign_sequential_ids(
            new_terms.select("term"), ["term"], "term_id"
        ).withColumn(
            "term_id", (F.col("term_id") + F.lit(next_term_id)).cast("long")
        )
        if new_map.limit(1).count():
            new_map.write.mode("append").parquet(self._p("termmap"))

        termmap = self.spark.read.parquet(self._p("termmap"))
        delta = encode_postings(build_posting_rows(tf, termmap, self.cfg),
                                self.cfg)
        delta.write.mode("append").parquet(self._p("postings_delta"))
        docs.unpersist()

    def start(self, stream_df: DataFrame, checkpoint: str, trigger_sec: int = 5):
        """Wire a streaming source; trigger default mirrors the
        reference's 5 s visibility lag."""
        return (
            stream_df.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(processingTime=f"{trigger_sec} seconds")
            .start()
        )

    def live_index(self) -> BzzzIndex:
        """Queryable view over everything ingested so far.

        Dictionary df/cf are recomputed EXACTLY from the ingested docs
        (so BM25 is exact); term_ids come from the persistent map (so
        they agree with the delta postings).  Queries plan block-max
        kernels on it as on any index — see module docstring.
        """
        spark = self.spark
        postings = spark.read.parquet(self._p("postings_delta"))
        require_impacts(postings.columns, self.out)
        docs = spark.read.parquet(self._p("docs"))
        termmap = spark.read.parquet(self._p("termmap"))
        # df and cf need the terms alone, not positions or doc-values
        tf = _full_tf(docs, replace(self.cfg, store_positions=False,
                                    docvalue_cols=()))
        dictionary = (
            tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
            .join(termmap, "term")
        )
        stats_row = docs.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
        ).collect()[0]
        stats = spark.createDataFrame(
            [(int(stats_row["n_docs"]), float(stats_row["avgdl"] or 0.0))],
            "n_docs long, avgdl double",
        )
        return BzzzIndex(
            docs=docs.drop("tokens"),
            dictionary=dictionary,
            postings=postings,
            stats=stats,
            config=self.cfg,
        )

    def compact(self, index_dir: str) -> dict:
        """Delta merge = checkpointed full rebuild (forceMerge analog).
        After this, read the compacted dir with checkpoint.read_index
        or serve it with serve.local.LocalIndex."""
        from bzzz_spark.build.checkpoint import build_and_write

        base = self.spark.read.parquet(self._p("docs")).drop(
            "tokens", "dl", "docid"
        )
        return build_and_write(base, index_dir, self.cfg)