"""spark-submit entry point for the log pipeline.

Production invocation (north rule: spark-submit --py-files on a
multi-executor cluster):

    zip -r otelspark.zip opentelemetry_collector_contrib_spark  # from the repo root
    spark-submit --py-files otelspark.zip \
        --conf spark.sql.adaptive.enabled=true \
        opentelemetry_collector_contrib_spark/cli.py \
        --input-dir /data/sf --out-dir /data/out [--with-histograms]

Streaming mode adds ``--streaming --checkpoint-dir /data/ck`` and takes
two more stream-only flags, ``--dims-dir`` and ``--flush-interval``
(seconds; without it the stream processes the files present, then
stops). ``--with-histograms`` is batch-only. Every flag is checked
before the SparkSession starts: a stream-only flag in batch mode, a
batch-only flag in streaming mode or ``--streaming`` without
``--checkpoint-dir`` exits with status 2.

In local mode (no cluster manager) the same file runs directly:
    python -m opentelemetry_collector_contrib_spark.cli --input-dir ... --out-dir ...

The driver creates no SparkSession config beyond defaults — executor
count/memory/shuffle settings belong to spark-submit flags, so the same
job scales from local[2] to 1000 executors unchanged.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="parse→enrich→route→aggregate pipeline")
    ap.add_argument("--input-dir", required=True,
                    help="directory with the base parquet tables (or, with "
                         "--streaming, transcript-shaped parquet files)")
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--with-histograms", action="store_true",
                    help="batch only: emit the full metric block (per-sink "
                         "counts + per-sink/role + per-tool histograms, one "
                         "aggregate over the written sinks)")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="streaming only (required there)")
    ap.add_argument("--dims-dir", default=None,
                    help="streaming only: directory for enrichment dims "
                         "(default: --input-dir)")
    ap.add_argument("--flush-interval", type=float, default=None,
                    help="streaming only: fileexporter flush_interval "
                         "seconds (a processingTime trigger; default: "
                         "availableNow)")
    args = ap.parse_args(argv)

    if args.streaming:
        if not args.checkpoint_dir:
            ap.error("--streaming requires --checkpoint-dir")
        misplaced = {"--with-histograms": args.with_histograms}
    else:
        misplaced = {"--checkpoint-dir": args.checkpoint_dir is not None,
                     "--dims-dir": args.dims_dir is not None,
                     "--flush-interval": args.flush_interval is not None}
    for flag, given in misplaced.items():
        if given:
            ap.error(f"{flag} is {'batch' if args.streaming else 'streaming'}-only")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("otelcol-spark-pipeline").getOrCreate()

    if args.streaming:
        # absolute fallback: spark-submit runs this FILE as __main__ (not
        # as a package member); the --py-files zip provides the package
        try:
            from .streaming import pipeline as spipe
        except ImportError:
            from opentelemetry_collector_contrib_spark.streaming import (
                pipeline as spipe,
            )

        q = spipe.run_to_sinks(
            spark,
            args.input_dir,
            args.dims_dir or args.input_dir,
            args.out_dir,
            args.checkpoint_dir,
            flush_interval=args.flush_interval,
        )
        q.awaitTermination()
        print(json.dumps({"status": "stream-finished"}))
        return 0

    try:
        from .plans import pipeline
    except ImportError:
        from opentelemetry_collector_contrib_spark.plans import pipeline

    res = pipeline.run(
        spark, args.input_dir, out_dir=args.out_dir,
        with_histograms=args.with_histograms,
    )
    print(json.dumps(res, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
