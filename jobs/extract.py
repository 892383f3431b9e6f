#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline.

Cluster launch (north rule: ``spark-submit --py-files`` on a multi-executor
cluster; reference CLI analog /root/reference/cli.py:13-135):

    python tools/package.py                       # builds dist/pdf_extractor_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/pdf_extractor_spark.zip \\
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \\
        jobs/extract.py --input <transcripts path/table> \\
        --output /data/extract_run1 [--buckets 256] [--salt-stage1]

Local smoke (this sandbox):

    python jobs/extract.py --generate 100 --output /tmp/extract_run

The job is resumable: re-running with the same --output skips committed
batches (plans/pipeline.py checkpoint protocol).  To see it, kill the
process mid-run and re-run the same command: only the batches that had not
committed execute (``executed_now`` in the printed summary).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts parquet path (or table)")
    src.add_argument(
        "--generate", type=int, metavar="N_CONVS",
        help="generate N synthetic conversations instead of reading input",
    )
    ap.add_argument("--output", required=True, help="output root (checkpointed)")
    ap.add_argument("--buckets", type=int, default=None,
                    help="conv-hash checkpoint buckets (default config)")
    ap.add_argument("--buckets-per-batch", type=int, default=4)
    ap.add_argument("--salt-stage1", action="store_true",
                    help="salt extraction stage for skewed conversations")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[] cores when no cluster master is set")
    ap.add_argument("--iceberg-table", default=None,
                    help="commit to this Iceberg catalog table instead of the "
                         "parquet+manifest sink (needs the Iceberg runtime)")
    ap.add_argument("--packed-embeddings", action="store_true",
                    help="schema-v2 packed float32 binary embedding column")
    args = ap.parse_args()

    from pdf_extractor_spark.config import CHECKPOINT_BUCKETS
    from pdf_extractor_spark.plans.pipeline import run_extraction
    from pdf_extractor_spark.session import build_session
    from pdf_extractor_spark.sources.transcripts import transcripts_spark_df

    # under spark-submit a master is already configured; standalone we build
    # a local session
    if os.environ.get("SPARK_SUBMIT") or "spark.master" in os.environ.get(
        "SPARK_CONF", ""
    ):
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("transcript-extract").getOrCreate()
    else:
        spark = build_session("transcript-extract", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")

    if args.generate:
        transcripts = transcripts_spark_df(
            spark, args.generate, seed=42, skew_every=20
        )
    else:
        transcripts = spark.read.parquet(args.input)

    sink = None
    if args.iceberg_table:
        from pdf_extractor_spark.plans.sinks import IcebergSink

        sink = IcebergSink(spark, args.iceberg_table)

    summary = run_extraction(
        spark,
        transcripts,
        args.output,
        buckets=args.buckets or CHECKPOINT_BUCKETS,
        buckets_per_batch=args.buckets_per_batch,
        salt_stage1=args.salt_stage1,
        sink=sink,
        packed_embeddings=args.packed_embeddings or None,
    )
    print(json.dumps({"totals": summary["totals"],
                      "batches": len(summary["batches"]),
                      "executed_now": summary["executed_now"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
