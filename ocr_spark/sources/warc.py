"""WARC (ISO 28500) source/sink — the container format Common-Crawl
pages actually arrive in.

The reference ingests uploads one file at a time (main.py upload
endpoints); a crawl-scale pipeline ingests multi-record WARC archives.
This module implements the format from the public spec (a WARC file is
a concatenation of records: a ``WARC/1.0`` header block of
``Name: value`` lines, a blank line, ``Content-Length`` payload bytes,
then two CRLFs), giving the engine a real interchange source/sink:

* ``build_record(url, payload)`` / ``split_records(blob)`` — pure,
  deterministic, byte-exact serialization and parsing (unit-tested on
  truncated/garbage input: error rows, never exceptions).
* ``to_warc_blobs(df, n_shards)`` — DataFrame(url, html) -> shard-
  grouped multi-record WARC blobs, built inside ``mapInPandas`` after a
  single hash repartition on the shard key (each shard's records are
  serialized by exactly one task — no driver collect, no global sort).
* ``records_from_blobs(blobs)`` — the inverse: Arrow-batched record
  splitting, one output row per record.
* ``write_warc_files`` / ``read_warc_dir`` — the same pair against a
  directory of ``.warc`` files, reading through Spark's built-in
  ``binaryFile`` source so a crawl dump dropped into a path becomes a
  DataFrame without any custom file handling.

Scale shape: serialization and parsing are embarrassingly parallel per
shard/file; the only exchange is the shard repartition (records that
belong together must meet in one task — same reasoning as the url-hash
bucketing in operators/extract.py). Payload bytes cross the shuffle
once; at 100 TB you'd set n_shards so each blob lands near the
parquet/HDFS block size (~128-512 MB), which is exactly what
Common-Crawl segment files do.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Tuple

import pandas as pd

# Fixed date: WARC-Date is mandatory per spec; a deterministic value
# keeps serialization byte-reproducible (and SQL-expressible for the
# oracle).
WARC_DATE = "2026-01-01T00:00:00Z"

_HDR_HEAD = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "
_HDR_MID = "\r\nWARC-Date: " + WARC_DATE + "\r\nContent-Length: "
_HDR_TAIL = "\r\n\r\n"
_REC_END = b"\r\n\r\n"
_MAGIC = b"WARC/1.0\r\n"


def build_record(url: str, payload: bytes) -> bytes:
    """One WARC response record, byte-deterministic."""
    header = _HDR_HEAD + url + _HDR_MID + str(len(payload)) + _HDR_TAIL
    return header.encode("utf-8") + payload + _REC_END


def split_records(blob: bytes) -> List[Tuple[Optional[str], bytes, str]]:
    """Parse a multi-record WARC blob into (url, payload, status) rows.

    Malformed content yields ``status != 'ok'`` rows instead of raising
    (the R2 error-classification contract, operators/extract.py _extract):
    a truncated final record becomes one ``truncated`` row; bytes that
    are not a record boundary are skipped by scanning to the next
    magic.
    """
    out: List[Tuple[Optional[str], bytes, str]] = []
    pos = 0
    n = len(blob)
    while pos < n:
        start = blob.find(_MAGIC, pos)
        if start < 0:
            break
        hdr_end = blob.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            out.append((None, b"", "truncated"))
            break
        header = blob[start : hdr_end].decode("utf-8", errors="replace")
        url: Optional[str] = None
        length: Optional[int] = None
        for line in header.split("\r\n")[1:]:
            name, _, value = line.partition(":")
            key = name.strip().lower()
            if key == "warc-target-uri":
                url = value.strip()
            elif key == "content-length":
                try:
                    length = int(value.strip())
                except ValueError:
                    length = None
        body_start = hdr_end + 4
        if length is None:
            out.append((url, b"", "bad_header"))
            pos = body_start
            continue
        body_end = body_start + length
        if body_end > n:
            out.append((url, blob[body_start:], "truncated"))
            break
        out.append((url, blob[body_start:body_end], "ok"))
        pos = body_end + len(_REC_END)
    return out


# ---------------------------------------------------------------------------
# Spark wrappers
# ---------------------------------------------------------------------------

BLOB_SCHEMA = "shard int, warc binary, n_records int"
RECORD_SCHEMA = "url string, html binary, status string"


def _serialize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # One blob per shard: after the hash repartition on shard every
    # shard is wholly inside one partition, and sortWithinPartitions
    # makes it CONTIGUOUS across the partition's Arrow batches — so a
    # shard larger than one Arrow batch (the 128-512 MB target
    # guarantees this) is accumulated across batch boundaries and
    # flushed only when the shard id changes.  Grouping per-batch
    # instead would emit several same-shard blobs and n_records would
    # undercount.  Memory high-water mark is one shard, not the
    # partition.
    cur_shard: Optional[int] = None
    parts: List[bytes] = []
    count = 0

    def _flush() -> pd.DataFrame:
        return pd.DataFrame(
            [(cur_shard, b"".join(parts), count)],
            columns=["shard", "warc", "n_records"],
        )

    for b in batches:
        if not len(b):
            continue
        for shard, grp in b.groupby("shard", sort=True):
            shard = int(shard)
            if cur_shard is not None and shard != cur_shard:
                yield _flush()
                parts, count = [], 0
            cur_shard = shard
            parts.extend(
                build_record(u, bytes(h))
                for u, h in zip(grp["url"], grp["html"])
            )
            count += len(grp)
    if cur_shard is not None:
        yield _flush()


def to_warc_blobs(df, n_shards: int = 16):
    """DataFrame(url, html) -> DataFrame(shard, warc, n_records).

    Records are ordered by url within a shard (deterministic blobs);
    the single exchange is the repartition on the shard key.
    """
    from pyspark.sql import functions as F

    sharded = df.select(
        (F.abs(F.xxhash64("url")) % n_shards).cast("int").alias("shard"),
        F.col("url").cast("string").alias("url"),
        "html",
    )
    return (
        sharded.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "url")
        .mapInPandas(_serialize_batches, BLOB_SCHEMA)
    )


def _split_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for b in batches:
        urls, payloads, statuses = [], [], []
        for blob in b["warc"]:
            for url, payload, status in split_records(bytes(blob)):
                urls.append(url)
                payloads.append(payload)
                statuses.append(status)
        yield pd.DataFrame(
            {"url": urls, "html": payloads, "status": statuses}
        )


def records_from_blobs(blobs):
    """DataFrame(..., warc binary) -> DataFrame(url, html, status) —
    one row per record, Arrow-batched, no exchange (each blob splits
    where it already is)."""
    return blobs.select("warc").mapInPandas(_split_batches, RECORD_SCHEMA)


def write_warc_files(df, path: str, n_shards: int = 16) -> None:
    """Sink: shard-grouped .warc files under ``path`` (one file per
    shard, named by shard id), written from the executors via the
    parquet-free binary write path (each task writes its own shard
    file — the driver never sees payload bytes)."""
    import os

    os.makedirs(path, exist_ok=True)
    blobs = to_warc_blobs(df, n_shards=n_shards)

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for shard, blob in zip(b["shard"], b["warc"]):
                with open(
                    os.path.join(path, f"part-{int(shard):05d}.warc"), "wb"
                ) as fh:
                    fh.write(bytes(blob))
            yield pd.DataFrame({"written": b["shard"].astype("int64")})

    blobs.mapInPandas(_write, "written bigint").count()


def read_warc_dir(spark, path: str):
    """Source: directory of .warc files -> DataFrame(url, html,
    status) via the built-in binaryFile reader (splittable across
    executors at file granularity, like Common-Crawl segment files)."""
    from pyspark.sql import functions as F

    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc")
        .load(path)
        .select(F.col("content").alias("warc"))
    )
    return records_from_blobs(blobs)


# ---------------------------------------------------------------------------
# DuckDB SQL mirror (for the roundtrip oracle)
# ---------------------------------------------------------------------------


def sql_record_header(url_expr: str, payload_len_expr: str) -> str:
    """The record header string for a given url/length — used by the
    oracle to restate build_record byte-for-byte."""
    return (
        f"'{_HDR_HEAD}' || {url_expr} || '{_HDR_MID}' || "
        f"CAST({payload_len_expr} AS VARCHAR) || '\r\n\r\n'"
    )
