"""ocr_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of the capabilities of the reference OCR
web service (Qianxia666/ocr, studied at /root/reference) on top of
Apache Spark: the per-file asyncio task queue becomes a Spark job over
an Iceberg/Parquet table of Common-Crawl-style pages
``(url, warc_ts, html, text, lang)``; the per-page external model call
becomes deterministic in-process extraction (HTML boilerplate stripping
and pure-Python PDF layout parsing) inside Arrow-batched pandas UDFs.

Layout:
    textops        pure-Python deterministic semantics (oracle + UDF payload)
    html_extract   HTML tokenizer -> DOM blocks -> boilerplate scoring
    pdf_extract    pure-Python PDF content-stream parser
    corpus         seeded synthetic corpus generator (full input shape)
    operators/     Spark-side pipeline: admission, url-hash repartitioning, extraction, assembly
    plans/         lineage/checkpoint table + resume filter and audit
    functions/     column-expression helpers (url bucket, salted aggregation) and the admission limits

Importing the package also stops the per-task re-read of zip archives
on ``sys.path`` in PySpark's Python workers (see ``_zipstamp``).
"""

from . import _zipstamp

_zipstamp.install()

__version__ = "0.1.0"
