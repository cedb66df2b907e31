"""bzzz_spark — a PySpark-native inverted-index + BM25 search engine.

A from-scratch rebuild of the capabilities of jackdoe/bzzz (a Clojure/Java
HTTP wrapper around Lucene 4.10) re-expressed on the Spark execution model:

- SPIMI-style per-partition index build over transcript tables
  (``bzzz_spark.build``): tokenize with a pinned StandardAnalyzer-equivalent
  analyzer, map-side partial (term, docid, tf) aggregation, term-partitioned
  shuffle with docid-range salting for skewed head terms, delta-gap +
  varint-compressed posting blocks with per-block max-score metadata.
- BM25 (k1=1.2, b=0.75) top-k term / boolean queries with block-max
  pruning over docid-range segments (``bzzz_spark.query``) — the Spark
  analog of Lucene's per-leaf search + priority-queue merge.
- The reference's query DSL (term/bool/range/match-all/filtered/
  constant-score/dis-max/wildcard/fuzzy/query-parser), facets, paging,
  sorts, and highlighting (``bzzz_spark.query``).
- In-process serving of the on-disk index, one shard or many
  (``bzzz_spark.serve``).
- Training-data pipeline operators: C4/Gopher cleaning, PII masking,
  sampling, sequence packing, bigram-LM perplexity, multimodal plumbing
  (``bzzz_spark.functions``).

Everything is DataFrame/SQL-first; Python appears only in vectorized
pandas/Arrow UDF kernels (posting codec, WAND scorer, tokenizer fallback).
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
