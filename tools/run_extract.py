#!/usr/bin/env python
"""spark-submit entry point for the extraction job.

Packaged run (the deployment shape the north rule names)::

    bash tools/make_pyfiles.sh       # -> dist/ocr_spark.zip
    spark-submit --py-files dist/ocr_spark.zip \
        tools/run_extract.py \
        --input  /path/to/interleaved_docs.parquet \
        --output /path/to/out \
        --n-chunks 64

On a cluster, pass ``--master yarn``/``k8s://...`` etc. to spark-submit.
The session runs ``ocr_spark.session.engine_configs()`` (the worker
daemon, Arrow batch size, Kryo, BLAS pins: the same engine ``get_spark``
builds for tests and benchmarks) and sets no master; a conf given at
submit time keeps its submitted value. Re-running with the same
``--output`` resumes from the checkpoint manifest (completed chunks are
skipped).

For the production Iceberg source swap ``--format parquet`` for
``--format iceberg`` and pass the table name as ``--input`` (needs the
iceberg-spark runtime jar on the cluster; not bundled in this sandbox).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=False)
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--status", action="store_true",
        help="report chunk/lineage status of an existing run and exit",
    )
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--n-chunks", type=int, default=64)
    ap.add_argument("--max-chunks", type=int, default=None)
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args(argv)

    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    from ocr_spark.operators.checkpoint import run_checkpointed
    from ocr_spark.session import engine_configs

    # a SparkConf built before the py4j gateway exists does not see the
    # submit-time confs, so start the gateway first
    SparkContext._ensure_initialized()
    submitted = SparkConf()
    spark = (
        SparkSession.builder.appName("ocr-extract")
        .config(
            map={
                k: v for k, v in engine_configs().items()
                if not submitted.contains(k)
            }
        )
        .getOrCreate()
    )

    if args.status:
        from pyspark.sql import functions as F

        from ocr_spark.operators.checkpoint import read_lineage

        lineage = read_lineage(spark, args.output)
        agg = lineage.agg(
            F.count("*").alias("chunks_done"),
            F.sum("doc_count").alias("docs"),
            F.sum("media_count").alias("media"),
            F.round(F.avg("throughput_docs_per_s"), 2).alias(
                "avg_chunk_docs_per_s"
            ),
        ).collect()[0]
        print(json.dumps({**agg.asDict(), "out_dir": args.output}))
        spark.stop()
        return 0

    if not args.input:
        ap.error("--input is required unless --status is given")
    if args.format == "iceberg":
        df = spark.read.format("iceberg").load(args.input)
    else:
        df = spark.read.parquet(args.input)
    df = df.select("doc_id", "spans")

    summary = run_checkpointed(
        df,
        args.output,
        n_chunks=args.n_chunks,
        run_id=args.run_id,
        max_chunks=args.max_chunks,
    )
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
