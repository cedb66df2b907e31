"""spark-submit entry point: checkpointed, resumable index build.

Runs the on-disk build (bzzz_spark.build.checkpoint.build_and_write)
over a transcripts table — parquet path or catalog table name — and
prints the manifest: the build's lineage log, with stage times and each
chunk's docid range and block/posting counts.  Re-running after an
interruption resumes from the manifest: completed stages/chunks are
skipped (pass the same --chunks; another chunk plan is refused).

  spark-submit --py-files dist/bzzz_spark.zip tools/submit_build.py \
      --input s3://bucket/transcripts/ --output s3://bucket/index_v1/ \
      --segment-size 65536 --chunks 64

On a cluster, parallelism comes from the executors (no --cpus knob);
locally this falls back to bzzz_spark.session.get_spark.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path or table name")
    ap.add_argument("--output", required=True, help="index output directory")
    ap.add_argument("--segment-size", type=int, default=1 << 16)
    ap.add_argument("--block-size", type=int, default=128)
    ap.add_argument("--chunks", type=int, default=16,
                    help="resume granularity: posting chunks (docid ranges)")
    ap.add_argument("--no-store-text", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from bzzz_spark.build.checkpoint import build_and_write
    from bzzz_spark.build.indexer import IndexConfig

    spark = SparkSession.builder.appName("bzzz-index-build").getOrCreate()
    try:
        table = spark.read.parquet(args.input)
    except Exception:
        table = spark.read.table(args.input)

    cfg = IndexConfig(
        segment_size=args.segment_size,
        block_size=args.block_size,
        store_text=not args.no_store_text,
        num_partitions=spark.sparkContext.defaultParallelism,
    )
    manifest = build_and_write(table, args.output, cfg, n_chunks=args.chunks)
    print(json.dumps(manifest, indent=2, sort_keys=True))


if __name__ == "__main__":
    main()
