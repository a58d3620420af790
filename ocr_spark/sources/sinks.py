"""Result sinks — the reference's export surface (S6/S7) re-expressed
as DataFrame writes.

The reference exports one finished task at a time in three formats
(export_task_result_api, /root/reference/main.py:3681-3739): ``json``
(task metadata + content), ``txt`` (bare content), ``md`` (content
under a ``# {file_name}`` header).  Here the same three shapes are
bulk writes of the whole extracted table; formatting happens in
column expressions (JVM-side) and the writes shard across the
cluster — no driver-side loop over documents.

The quarantine sink is the reject path of the admission filter
(F1/F3, main.py:3206-3214): rows that fail admission are not dropped
silently but written with their reject reason, mirroring the
reference's HTTP 400 responses becoming a durable audit table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import payload_kind, reject_reason


def export_json(extracted: DataFrame, path: str) -> None:
    """S6 json: one JSON object per document with metadata + content
    (reference response shape, main.py:3702-3713)."""
    (
        extracted.select(
            "url", "kind", "status", "n_pages", "chars_out", "content_hash", "text"
        )
        .write.mode("overwrite")
        .json(path)
    )


def export_text(extracted: DataFrame, path: str) -> None:
    """S6 txt: bare content, one document per line.

    Assembled text contains embedded newlines ('\\n\\n' page joins), and
    the line-oriented text() sink would make record boundaries
    unrecoverable on read-back — so newline runs are folded to single
    spaces here, keeping the one-line-per-document contract parseable.
    """
    folded = F.regexp_replace(F.coalesce("text", F.lit("")), r"[\r\n]+", " ")
    extracted.select(folded.alias("value")).write.mode("overwrite").text(path)


def export_markdown(extracted: DataFrame, path: str) -> None:
    """S6 md: content under a '# {url}' header (reference md export
    writes '# {file_name}\\n\\n{content}', main.py:3725-3731).

    Concatenation-only by design: documents keep their embedded
    newlines (markdown needs them), so the output is a rendered corpus
    whose record boundaries are the '# {url}' headers, NOT a
    one-record-per-line file. Use export_json/export_text for
    machine-parseable round-trips.
    """
    md = F.concat(
        F.lit("# "), F.col("url"), F.lit("\n\n"), F.coalesce("text", F.lit(""))
    )
    extracted.select(md.alias("value")).write.mode("overwrite").text(path)


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
