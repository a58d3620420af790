"""Streaming extraction — the batch flagship pipeline as a Structured
Streaming query over a growing payload directory.

The reference ingests documents one HTTP upload at a time into an
in-process queue (main.py:3284-3302 -> core/task_queue.py:546-635);
the streaming analog of that "source that keeps producing" is a file
stream over a crawl-payload table directory: new parquet files landing
in the directory are discovered per micro-batch, run through the SAME
Arrow-batched extraction as the batch path (one code path, one set of
semantics), and committed to the sink exactly once via the streaming
checkpoint — which is also the streaming counterpart of the lineage
resume contract (plans/lineage.py): kill the query, restart it with
the same checkpoint dir, and only unprocessed files are extracted.

Scale notes: the extraction is stateless (no watermark or state store
needed), so the plan is the batch path's own: ``extract_documents``
with the scan strategy over the file stream (admission guard ->
coalesce -> MapInPandas per micro-batch); throughput equals the batch
path's. File-source listing cost is the one new scale concern — at
10^12 rows use fewer, larger files and ``maxFilesPerTrigger`` to bound
micro-batch size.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import extract_documents
from .metrics import _file_stream

# Input schema of the payload table (file streams cannot infer).
PAYLOAD_SCHEMA = "url string, html binary"


def extraction_stream(spark: SparkSession, payload_path: str) -> DataFrame:
    """Streaming DataFrame of extraction result rows over a payload
    directory: :func:`extract_documents` over a file stream, so the
    plan differs from the batch path only in its source."""
    return extract_documents(_file_stream(spark, payload_path, PAYLOAD_SCHEMA))


def run_extraction_stream(
    stream_df: DataFrame,
    output_path: str,
    checkpoint_path: str,
) -> None:
    """Drain all currently-available input into a parquet sink
    (availableNow), exactly-once via the checkpoint: re-running after
    more files landed processes ONLY the new files; re-running with
    nothing new is a no-op. The file sink's transaction log makes the
    output readable mid-stream and atomic per micro-batch."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_to_memory_append(
    stream_df: DataFrame, name: str | None = None
) -> DataFrame:
    """availableNow -> in-memory sink for stateless (append-mode)
    streaming queries; returns the materialized batch DataFrame.
    (metrics.run_stream_to_memory is the complete-mode variant for
    aggregating queries.)"""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)
