#!/usr/bin/env python3
"""The production extraction job — `spark-submit` entrypoint.

Usage (cluster):

    zip -r ocr_spark.zip ocr_spark
    spark-submit --py-files ocr_spark.zip jobs/extract.py \
        --input  s3://bucket/crawl/documents/ \
        --output s3://bucket/crawl/extracted/ \
        --lineage s3://bucket/crawl/lineage/ \
        --buckets 65536 --partitions 8192

Usage (sandbox smoke):

    python3 jobs/extract.py --input /tmp/docs.parquet \
        --output /tmp/out --lineage /tmp/lineage --buckets 64

The job is idempotent and resumable: every run skips the url-hash
buckets whose latest lineage row is ``status='done'`` and processes
only the rest; output is partitioned by bucket with dynamic overwrite,
so a rerun replaces exactly the buckets it recomputes
(ocr_spark.plans.lineage). A rerun must use the ``--buckets`` the
lineage was written with; another count is refused with one
``error: ...`` line on stderr and exit status 1. To re-verify a
finished output, call ``plans.lineage.audit_buckets``: it marks every
bucket whose output no longer matches its lineage ``stale``, and the
next run of this job redoes exactly those buckets.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents table path")
    ap.add_argument("--output", required=True, help="extracted output path")
    ap.add_argument("--lineage", required=True, help="lineage/checkpoint path")
    ap.add_argument("--buckets", type=int, default=64, help="url-hash buckets")
    ap.add_argument(
        "--partitions", type=int, default=None,
        help="extraction tasks, at most --buckets; each bucket is written by one task",
    )
    ap.add_argument("--run-id", default=None)
    ap.add_argument(
        "--yield-report",
        default=None,
        help="also write the per-host extraction-yield table (T179: "
        "n_docs, bytes_in, chars_out, yield_ppm by canonical host) "
        "to this path — the crawl-budget review table",
    )
    args = ap.parse_args()

    from ocr_spark.plans.lineage import run_pipeline
    from ocr_spark.session import get_spark

    spark = get_spark(app_name="ocr_spark-extract")
    try:
        summary = run_pipeline(
            spark,
            input_path=args.input,
            output_path=args.output,
            lineage_path=args.lineage,
            run_id=args.run_id,
            n_buckets=args.buckets,
            n_partitions=args.partitions,
        )
    except ValueError as exc:  # e.g. lineage written under another --buckets
        print(f"error: {exc}", file=sys.stderr)
        spark.stop()
        sys.exit(1)
    if args.yield_report:
        from pyspark.sql import functions as F

        from ocr_spark.operators.webcorpus import (
            canonicalize_url,
            extraction_yield,
        )

        extracted = spark.read.parquet(args.output)
        extraction_yield(
            extracted, key_col=canonicalize_url(F.col("url"))["host"]
        ).coalesce(1).write.mode("overwrite").parquet(args.yield_report)
        summary["yield_report"] = args.yield_report
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
