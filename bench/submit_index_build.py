"""spark-submit entry point for the full index build (north-star form).

Cluster usage (the package ships as a zip via --py-files; no install on
executors needed):

    cd /root/repo && zip -qr /tmp/search_engine_spark.zip search_engine_spark
    spark-submit \
        --master <cluster-master> \
        --py-files /tmp/search_engine_spark.zip \
        bench/submit_index_build.py \
        --input  <pages parquet/iceberg path> \
        --output <index path> \
        [--blocks <block-index path>] [--checkpoint <ckpt path>]

Local smoke (what CI runs): --master local[8] with a synthesized corpus
(--synth N). With --checkpoint the build goes through the resumable
per-partition lineage path; otherwise the one-shot fused build.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages table path (url, warc_ts, html, text, lang)")
    ap.add_argument("--output", required=True, help="index output path")
    ap.add_argument("--blocks", help="also build the compressed block index here")
    ap.add_argument("--checkpoint", help="resumable build state path")
    ap.add_argument("--synth", type=int, help="synthesize N pages instead of --input")
    ap.add_argument("--salt-df-threshold", type=int, default=None)
    args = ap.parse_args()

    # Imports AFTER argparse so --help works without the zip on sys.path.
    from pyspark.sql import SparkSession

    from search_engine_spark.operators.index_build import (
        build_index_from_pages,
        prepare_docs,
        write_index,
    )

    spark = SparkSession.builder.appName("index-build").getOrCreate()
    t0 = time.time()

    if args.synth:
        from search_engine_spark.sources.corpus import synth_pages

        pages = synth_pages(spark, args.synth, seed=42)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --synth is required")

    if args.checkpoint:
        from search_engine_spark.operators.checkpoint import checkpointed_build

        docs = prepare_docs(pages, id_method="hash", recompute_text=True)
        index = checkpointed_build(docs, args.checkpoint)
    else:
        index = build_index_from_pages(pages)

    write_index(index, args.output, salt_df_threshold=args.salt_df_threshold)

    result = {
        "n_docs": index.n_docs,
        "avgdl": round(index.avgdl, 3),
        "wall_s": round(time.time() - t0, 2),
        "output": args.output,
    }
    if args.blocks:
        from search_engine_spark.operators.blocks import (
            build_block_index,
            write_block_index,
        )

        write_block_index(build_block_index(index), args.blocks)
        result["blocks"] = args.blocks
    print("INDEX_BUILD_RESULT " + json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
