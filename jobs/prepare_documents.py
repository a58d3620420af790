#!/usr/bin/env python3
"""Normalize raw extraction output into the corpus `documents` table.

The extraction job (`jobs/extract.py`) emits per-url rows shaped like
its EXTRACT_SCHEMA (url, kind, status, text, content_hash, bytes_in,
chars_out, ...).  Every downstream stage — curation, dedup, tokenize,
report — keys on the reference-shaped `documents` table instead:

    doc_id  BIGINT   stable non-negative key (xxhash64 of the url,
                     sign bit cleared so modulo-keyed slices like
                     curate's --eval-mod behave)
    url     STRING   the page url (kept for lineage/joins)
    source  STRING   canonical host (webcorpus.canonicalize_url)
    lang    STRING   script-aware guess (corpus_ops.langid_script)
    text    STRING   extracted text
    n_chars BIGINT   length(text)

Only successfully extracted, non-empty docs survive: failed/cancelled
rows stay in the extraction output, counted per bucket in the lineage
table (plans.lineage); shipping them into the corpus tables would
poison every text-keyed stage.

Pure column expressions — one narrow scan, zero shuffles, no Python.

Usage (cluster):

    spark-submit --py-files ocr_spark.zip jobs/prepare_documents.py \
        --input s3://bucket/crawl/extracted/ \
        --output s3://bucket/corpus/documents/
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
    from pyspark.sql import functions as F

    from ocr_spark.operators.corpus_ops import langid_script
    from ocr_spark.operators.webcorpus import canonicalize_url
    from ocr_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="extracted table path")
    ap.add_argument("--output", required=True, help="documents table path")
    args = ap.parse_args()

    spark = get_spark(app_name="ocr_spark-prepare")
    ext = spark.read.parquet(args.input)

    docs = (
        ext.filter(
            (F.col("status") == "completed")
            & F.col("text").isNotNull()
            & (F.length("text") > 0)
        )
        .select(
            F.expr("xxhash64(url) & 9223372036854775807").alias("doc_id"),
            "url",
            canonicalize_url(F.col("url"))["host"].alias("source"),
            langid_script(F.col("text")).alias("lang"),
            "text",
            F.length("text").cast("bigint").alias("n_chars"),
        )
    )
    docs.write.mode("overwrite").parquet(args.output)

    written = spark.read.parquet(args.output)
    print(
        json.dumps(
            {"docs": written.count(), "input_rows": ext.count()}
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
