"""The quarantine sink: the reject path of the admission filter
(F1/F3, reference main.py:3206-3214). Rows that fail admission are not
dropped silently but written with their reject reason, mirroring the
reference's HTTP 400 responses becoming a durable audit table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import payload_kind, reject_reason


def quarantine_rejects(df: DataFrame, path: str) -> int:
    """Write admission-rejected rows (F1 size caps / F3 unknown type)
    with reasons; returns the reject count. The rows are exactly those
    operators.extract.admit drops (both read functions.reject_reason)."""
    rejects = (
        df.withColumn("kind", payload_kind())
        .withColumn("reject_reason", reject_reason())
        .filter(F.col("reject_reason").isNotNull())
        .select("url", "reject_reason", F.length("html").alias("bytes_in"))
    )
    rejects.write.mode("overwrite").parquet(path)
    return rejects.count()
