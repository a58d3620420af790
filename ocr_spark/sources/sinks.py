"""The quarantine sink: the reject path of admission (F1/F3, reference
main.py:3206-3214). The extraction kernel rejects a payload of unknown
kind or over its kind's size cap as a ``status='rejected'`` row with
its reason; this sink writes those rows out as a durable audit table,
mirroring the reference's HTTP 400 responses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quarantine_rejects(extracted: DataFrame, path: str) -> int:
    """Write the rejected rows of ``extract_documents`` output (or of a
    ``run_pipeline`` output table) as ``(url, reject_reason, bytes_in)``;
    returns the reject count."""
    rejects = extracted.filter(F.col("status") == "rejected").select(
        "url", F.col("error_message").alias("reject_reason"), "bytes_in"
    )
    rejects.write.mode("overwrite").parquet(path)
    return extracted.sparkSession.read.parquet(path).count()
