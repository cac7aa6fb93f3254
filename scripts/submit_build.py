"""spark-submit entry point: build the full index over a parquet corpus.

The north rule's deployment shape: ``spark-submit --py-files
dist/kma_information_retrieval_spark.zip scripts/submit_build.py
--corpus <parquet> --out <dir> [--resume ...]``. The SparkSession comes
from spark-submit (master/executors configured on the command line, not
here); the script only declares the job. Prints the manifest JSON on
success — throughput, per-partition lineage, phase timings.

Example (sandbox):
    spark-submit --master 'local[8]' \\
        --py-files dist/kma_information_retrieval_spark.zip \\
        scripts/submit_build.py --corpus /tmp/corpus.parquet --out /tmp/idx
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True, help="input parquet of docs")
    ap.add_argument("--out", required=True, help="index output dir")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="content")
    ap.add_argument("--mode", default="code")
    ap.add_argument(
        "--num-segments", type=int, default=None,
        help="segment partitions; default: sized from the input, one per "
             "4 MiB of document text, between 1 and 32")
    ap.add_argument("--postings-per-group", type=int, default=50_000)
    ap.add_argument("--block-size", type=int, default=128)
    ap.add_argument("--partition-by", choices=["term", "doc", "auto"], default="auto")
    ap.add_argument("--no-positions", action="store_true")
    ap.add_argument("--with-bigrams", action="store_true")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--identity-cols", default="",
        help="comma-separated lineage columns to carry into the docmap "
             "(e.g. repo,path,commit,lang)")
    args = ap.parse_args()

    # session comes from spark-submit; library import works on executors
    # because --py-files shipped the zip
    from kma_information_retrieval_spark.index import build_index

    spark = SparkSession.builder.getOrCreate()
    docs = spark.read.parquet(args.corpus)
    manifest = build_index(
        spark, docs, args.out,
        id_col=args.id_col, text_col=args.text_col, mode=args.mode,
        num_segments=args.num_segments,
        postings_per_group=args.postings_per_group,
        block_size=args.block_size,
        partition_by=args.partition_by,
        with_positions=not args.no_positions,
        with_bigrams=args.with_bigrams,
        resume=args.resume,
        identity_cols=tuple(c for c in args.identity_cols.split(",") if c),
    )
    print("MANIFEST " + json.dumps(manifest))


if __name__ == "__main__":
    main()
