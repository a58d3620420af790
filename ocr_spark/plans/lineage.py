"""Per-bucket lineage, metrics and resume — the engine's checkpointing.

Replaces the reference's page-granular SQLite state machine
(reference models/database.py:322-342 page_results;
core/recovery_manager.py:270-334 checkpoints) with partition-granular
lineage rows (FIXTURES.md §3): each url-hash *bucket* that finishes
extraction appends one row ``(run_id, bucket, n_buckets, status,
n_docs, n_ok, n_failed, n_rejected, bytes_in, chars_out, max_doc_ms,
finished_at, content_hash)`` to a lineage table; ``n_docs = n_ok +
n_failed + n_rejected`` counts every input row of the bucket. A bucket
is done when its latest row by ``finished_at`` says ``status='done'``;
a rerun processes only the buckets that are not done (the reference's
restore-on-boot, task_queue.py:369-443, which *fails* interrupted tasks
because the upload bytes are gone — here the source table is durable,
so resume is true resume). ``n_buckets`` is the url-hash modulus the row was
written under: a rerun under another modulus would file urls in other
buckets, so it is refused.

``content_hash`` is sha256 over the bucket's sorted per-url text
hashes (reference integrity hashing, recovery_manager.py:288-290),
computed with built-in functions so it stays JVM-side; it matches
``textops.content_hash_of`` byte-for-byte. ``audit_buckets`` recomputes
it and the counts from the output; a done bucket that no longer matches
gets a ``status='stale'`` row, so the next run redoes it.

Output layout: parquet partitioned by ``bucket``, one file per bucket
per run (one task writes each bucket) — idempotent on resume (a
re-written bucket replaces exactly its own directory, the
MERGE-on-key analog of the reference's INSERT OR REPLACE upsert,
database.py:860-869).
"""

from __future__ import annotations

import uuid
from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import url_bucket
from .fs import hadoop_fs
from ..operators.extract import ADMITTED_COLUMNS, EXTRACT_SCHEMA, admit, extract_batch

LINEAGE_SCHEMA = (
    "run_id string, bucket int, n_buckets int, status string, n_docs bigint, "
    "n_ok bigint, n_failed bigint, n_rejected bigint, bytes_in bigint, "
    "chars_out bigint, max_doc_ms bigint, finished_at timestamp, "
    "content_hash string"
)

DEFAULT_N_BUCKETS = 64

_LINEAGE_COLUMNS = [c.split()[0] for c in LINEAGE_SCHEMA.split(", ")]

# The output columns lineage is computed from: a run re-reads them for
# the buckets it wrote, the audit for the buckets lineage calls done.
_OUTPUT_METADATA = (
    "bucket int, status string, bytes_in bigint, chars_out bigint, "
    "elapsed_us bigint, content_hash string"
)

# What the audit compares. Per-document times, finished_at and run_id
# differ between two runs over the same bytes.
_AUDITED = (
    "n_docs", "n_ok", "n_failed", "n_rejected", "bytes_in", "chars_out", "content_hash"
)


def lineage_rows(extracted: DataFrame, run_id: str, n_buckets: int) -> DataFrame:
    """Aggregate per-doc extraction rows (already carrying ``bucket``)
    into one lineage row per bucket. All built-ins — no Python."""
    agg = extracted.groupBy("bucket").agg(
        F.lit(run_id).alias("run_id"),
        F.lit(n_buckets).alias("n_buckets"),
        F.lit("done").alias("status"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("status") == "completed", 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("n_failed"),
        F.sum(F.when(F.col("status") == "rejected", 1).otherwise(0)).alias(
            "n_rejected"
        ),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("chars_out").alias("chars_out"),
        (F.max("elapsed_us") / F.lit(1000)).cast("bigint").alias("max_doc_ms"),
        F.current_timestamp().alias("finished_at"),
        F.sha2(
            F.concat(
                F.concat_ws(
                    "\n",
                    F.array_sort(
                        F.collect_list(F.coalesce("content_hash", F.lit("")))
                    ),
                ),
                F.lit("\n"),
            ),
            256,
        ).alias("content_hash"),
    )
    return agg.select(*_LINEAGE_COLUMNS)


def _latest_rows(spark: SparkSession, lineage_path: str) -> list:
    """The latest lineage row of every bucket, by ``finished_at``.

    Collected to the driver on purpose: the rows are tiny (≤ the bucket
    count) and materializing them FREEZES resume state at plan time — a
    lazy read of the lineage table here would be re-evaluated by later
    actions in the same job, after this run has appended its own
    lineage rows, silently emptying the pending set. A missing path is
    checked for, not read (a failed read logs a Java stack trace). The
    read names its schema, so a directory with no parquet file yet (a
    first run killed in its lineage append) reads as no rows.
    """
    fs, Path = hadoop_fs(spark, lineage_path)
    if not fs.exists(Path(lineage_path)):
        return []
    lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
    latest = lineage.groupBy("bucket").agg(
        F.max_by(F.struct(*_LINEAGE_COLUMNS), "finished_at").alias("row")
    )
    return [r.row for r in latest.collect()]


def done_buckets(spark: SparkSession, lineage_path: str) -> list:
    """Sorted ids of the buckets whose latest lineage row is ``done``
    (see _latest_rows); empty if no lineage exists yet."""
    latest = _latest_rows(spark, lineage_path)
    return sorted(r.bucket for r in latest if r.status == "done")


def _resume_done(spark: SparkSession, lineage_path: str, n_buckets: int) -> list:
    """done_buckets for a run under ``n_buckets``. Raises ValueError if
    the lineage was written under another bucket count: its bucket ids
    name other sets of urls, so resuming would duplicate some documents
    and skip others. Rows written before lineage recorded the count
    carry null and are not checked."""
    latest = _latest_rows(spark, lineage_path)
    recorded = sorted({r.n_buckets for r in latest} - {None, n_buckets})
    if recorded:
        raise ValueError(
            f"lineage at {lineage_path} was written with n_buckets="
            f"{', '.join(map(str, recorded))}; this run asks for n_buckets={n_buckets}"
        )
    return sorted(r.bucket for r in latest if r.status == "done")


# Above this many done buckets, prefer a broadcast anti-join over an
# isin literal (driver-side predicates with huge literal lists bloat
# the plan).  At 10^12-doc scale with ~10^5 buckets the anti-join path
# is the one that runs; both avoid shuffling the big side.
ISIN_MAX_BUCKETS = 10_000


def _filter_not_in_buckets(
    spark: SparkSession,
    df: DataFrame,
    done: list,
) -> DataFrame:
    """Rows of ``df`` (carrying a ``bucket`` column) whose bucket is
    not in ``done``. Up to ISIN_MAX_BUCKETS done ids this is a plain
    row-level isin predicate (no join at all); above it, a broadcast
    anti-join of the done-set, so the big side never shuffles."""
    if not done:
        return df
    if len(done) <= ISIN_MAX_BUCKETS:
        return df.filter(~F.col("bucket").isin(done))
    done_df = spark.createDataFrame([(int(b),) for b in done], "bucket int")
    return df.join(F.broadcast(done_df), "bucket", "left_anti")


def pending_after_resume(
    spark: SparkSession,
    input_df: DataFrame,
    lineage_path: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> DataFrame:
    """Input rows whose bucket is not done (see
    _filter_not_in_buckets), the done-set snapshotted at call time
    (see _latest_rows). Raises ValueError if the lineage was written
    under another ``n_buckets``."""
    with_bucket = input_df.withColumn("bucket", url_bucket(n_buckets))
    done = _resume_done(spark, lineage_path, n_buckets)
    return _filter_not_in_buckets(spark, with_bucket, done)


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    lineage_path: str,
    run_id: Optional[str] = None,
    n_buckets: int = DEFAULT_N_BUCKETS,
    n_partitions: Optional[int] = None,
) -> dict:
    """The resumable extraction job (build plan §7.6).

    scan -> resume filter -> admission guard -> exchange sending bucket b to
    task b % width -> extract -> write output partitioned by bucket
    (dynamic overwrite: reruns replace exactly the buckets they
    recompute) -> append lineage rows. ``width`` is ``n_partitions``
    (default spark.sql.shuffle.partitions) capped at ``n_buckets``;
    AQE does not coalesce it.

    Raises ValueError if the lineage was written under another
    ``n_buckets``. Returns a small summary dict (counts only — no data
    collected).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    docs = spark.read.parquet(input_path)
    with_bucket = docs.withColumn("bucket", url_bucket(n_buckets))
    done = _resume_done(spark, lineage_path, n_buckets)
    pending = _filter_not_in_buckets(spark, with_bucket, done)

    if pending.isEmpty():
        return {"run_id": run_id, "buckets_processed": 0, "docs": 0}

    width = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # mapInPandas emits EXTRACT_SCHEMA only: the output's bucket column
    # is the same url_bucket expression, applied again.
    extracted = (
        admit(pending)
        .repartitionById(min(width, n_buckets), "bucket")
        .select(*ADMITTED_COLUMNS)
        .mapInPandas(extract_batch, schema=EXTRACT_SCHEMA)
        .withColumn("bucket", url_bucket(n_buckets))
    )
    # Single extraction pass straight to the sink — no persist of the
    # full output (a persist here would push a second copy of the
    # corpus, text included, through memory+disk at 100 TB). Lineage is
    # computed afterwards by RE-READING the just-written parquet:
    # column pruning means the second scan touches only the metadata
    # columns (status/bytes/chars/hash — a few % of the bytes), and
    # partition pruning on the done-set restricts it to this run's
    # buckets (dynamic overwrite replaced exactly those directories).
    (
        extracted.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(output_path)
    )
    written = _filter_not_in_buckets(
        spark, spark.read.schema(_OUTPUT_METADATA).parquet(output_path), done
    )
    # Collected lineage rows are ≤ n_buckets — bounded and tiny.
    lineage_local = lineage_rows(written, run_id, n_buckets).collect()
    spark.createDataFrame(lineage_local, schema=LINEAGE_SCHEMA).write.mode(
        "append"
    ).parquet(lineage_path)
    n_docs = sum(r.n_docs for r in lineage_local)
    n_buckets_done = len(lineage_local)
    return {"run_id": run_id, "buckets_processed": n_buckets_done, "docs": n_docs}


def audit_buckets(
    spark: SparkSession, output_path: str, lineage_path: str
) -> list:
    """Re-verify every done bucket against the output it left; returns
    the sorted ids of the buckets that no longer match.

    The output's metadata columns, pruned to the done buckets, go
    through the same ``lineage_rows`` aggregate a run uses, and each
    bucket's counts and ``content_hash`` are compared with its latest
    lineage row. The comparison trusts the per-document
    ``content_hash`` column; it does not rehash the text. A column the
    row was written without (null, such as ``n_rejected`` before it
    existed) is not compared. A bucket that disagrees, or whose
    directory is gone, gets a ``status='stale'`` row with zero counts
    (every lineage sum stays the same) and the ``content_hash`` found,
    null if none. It is then no longer done, so
    the next ``run_pipeline`` redoes exactly these buckets.

    Reads the metadata of every done bucket, so it is a call of its
    own, like ``output_is_complete``, not a step of every run.
    """
    latest = _latest_rows(spark, lineage_path)
    done = {r.bucket: r for r in latest if r.status == "done"}
    found = {}
    fs, Path = hadoop_fs(spark, output_path)
    if done and fs.exists(Path(output_path)):
        written = (
            spark.read.schema(_OUTPUT_METADATA)
            .parquet(output_path)
            .filter(F.col("bucket").isin(list(done)))
        )
        found = {r.bucket: r for r in lineage_rows(written, "audit", 0).collect()}
    stale = sorted(
        b
        for b, row in done.items()
        if b not in found
        or any(row[c] is not None and row[c] != found[b][c] for c in _AUDITED)
    )
    if stale:
        run_id, now = uuid.uuid4().hex[:12], datetime.now(timezone.utc)
        marks = [
            (run_id, b, done[b].n_buckets, "stale", 0, 0, 0, 0, 0, 0, None, now,
             found[b].content_hash if b in found else None)
            for b in stale
        ]
        spark.createDataFrame(marks, LINEAGE_SCHEMA).write.mode("append").parquet(
            lineage_path
        )
    return stale


def output_is_complete(
    spark: SparkSession, output_path: str, input_path: str
) -> bool:
    """Audit helper: every input url appears exactly once in output."""
    out = spark.read.parquet(output_path).select("url")
    inp = spark.read.parquet(input_path).select("url")
    missing = inp.join(out, "url", "left_anti").count()
    dupes = (
        out.groupBy("url").count().filter(F.col("count") > 1).count()
    )
    return missing == 0 and dupes == 0
