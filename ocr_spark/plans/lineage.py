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
buckets, so it is refused. "Bucket b is done" is one test wherever it
is asked (the resume filter, a run's re-read of its own buckets, the
audit): a byte mask literal indexed by the bucket id, with no join and
no threshold. Each append of lineage rows writes one file.

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
from typing import Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import url_bucket
from ..operators.extract import _balanced_map
from .fs import hadoop_fs

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


def _latest(spark: SparkSession, lineage_path: str) -> Optional[DataFrame]:
    """The latest lineage row of every bucket, by ``finished_at``, as a
    lazy frame; None if no lineage exists yet. A missing path is checked
    for, not read (a failed read logs a Java stack trace). The read
    names its schema, so a directory with no parquet file yet (a first
    run killed in its lineage append) reads as no rows."""
    fs, Path = hadoop_fs(spark, lineage_path)
    if not fs.exists(Path(lineage_path)):
        return None
    lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
    return lineage.groupBy("bucket").agg(
        F.max_by(F.struct(*_LINEAGE_COLUMNS), "finished_at").alias("row")
    ).select("row.*")


def _resume_state(spark: SparkSession, lineage_path: str) -> Tuple[list, list]:
    """(the ``n_buckets`` values the latest rows record, the sorted ids
    of the buckets whose latest row is ``done``), aggregated on the JVM
    into one row and collected.

    Collected on purpose: it FREEZES resume state at plan time — a lazy
    read of the lineage table here would be re-evaluated by later
    actions in the same job, after this run has appended its own
    lineage rows, silently emptying the pending set.
    """
    latest = _latest(spark, lineage_path)
    if latest is None:
        return [], []
    done = F.when(F.col("status") == "done", F.col("bucket"))
    state = latest.agg(
        F.collect_set("n_buckets"), F.sort_array(F.collect_list(done))
    ).first()
    return list(state[0]), list(state[1])


def done_buckets(spark: SparkSession, lineage_path: str) -> list:
    """Sorted ids of the buckets whose latest lineage row is ``done``
    (see _resume_state); empty if no lineage exists yet."""
    return _resume_state(spark, lineage_path)[1]


def _in_buckets(done: list) -> Column:
    """``bucket`` is one of ``done``, as one JVM expression: byte b of
    a binary literal is 1 when bucket b is done. No join, no broadcast,
    and a plan that costs the same at 64 ids as at 65,536 (on 4 vCPU,
    an ``isin`` over 32,768 ids took 14-20 s to plan). An id past the
    mask reads no byte, so it is not done. Binary, not a string:
    ``substr`` on a string walks UTF-8 characters."""
    mask = bytearray(max(done, default=-1) + 1)
    for b in done:
        mask[b] = 1
    return F.lit(mask).substr(F.col("bucket") + 1, F.lit(1)) == b"\x01"


def _pending(
    spark: SparkSession, input_df: DataFrame, lineage_path: str, n_buckets: int
) -> Tuple[DataFrame, list]:
    """(rows of ``input_df``, with ``bucket``, whose bucket is not done;
    the sorted done ids), the done-set snapshotted now (see
    _resume_state). Raises ValueError if the lineage was written under
    another bucket count: its bucket ids name other sets of urls, so
    resuming would duplicate some documents and skip others. Rows
    written before lineage recorded the count carry null and are not
    checked."""
    recorded, done = _resume_state(spark, lineage_path)
    recorded = sorted(set(recorded) - {n_buckets})
    if recorded:
        raise ValueError(
            f"lineage at {lineage_path} was written with n_buckets="
            f"{', '.join(map(str, recorded))}; this run asks for n_buckets={n_buckets}"
        )
    with_bucket = input_df.withColumn("bucket", url_bucket(n_buckets))
    return with_bucket.filter(~_in_buckets(done)), done


def pending_after_resume(
    spark: SparkSession,
    input_df: DataFrame,
    lineage_path: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> DataFrame:
    """Input rows whose bucket is not done, with their ``bucket``
    column (see _pending). Raises ValueError if the lineage was written
    under another ``n_buckets``."""
    return _pending(spark, input_df, lineage_path, n_buckets)[0]


def _append_lineage(spark: SparkSession, rows: list, lineage_path: str) -> None:
    """Append lineage rows to the table as one parquet file: every run
    lists and reads all of them. One slice, not ``coalesce(1)``, which
    doubled the append's time (one task then ran every slice)."""
    one_slice = spark.sparkContext.parallelize(rows, 1)
    spark.createDataFrame(one_slice, LINEAGE_SCHEMA).write.mode("append").parquet(
        lineage_path
    )


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

    scan -> resume filter -> the extraction plan, balanced by an
    exchange sending bucket b to task b % width -> write output
    partitioned by bucket (dynamic overwrite: reruns replace exactly
    the buckets they recompute) -> append lineage rows. ``width`` is
    ``n_partitions`` (default spark.sql.shuffle.partitions) capped at
    ``n_buckets``; AQE does not coalesce it.

    Raises ValueError if the lineage was written under another
    ``n_buckets``. Returns a small summary dict (counts only — no data
    collected).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    docs = spark.read.parquet(input_path)
    pending, done = _pending(spark, docs, lineage_path, n_buckets)

    if pending.isEmpty():
        return {"run_id": run_id, "buckets_processed": 0, "docs": 0}

    width = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    def by_bucket(admitted: DataFrame) -> DataFrame:
        # a named key: the plan reads direct_shuffle_partition_id(bucket)
        keyed = admitted.withColumn("bucket", url_bucket(n_buckets))
        return keyed.repartitionById(min(width, n_buckets), "bucket").drop("bucket")

    # mapInPandas emits EXTRACT_SCHEMA only: the output's bucket column
    # is the same url_bucket expression, applied again.
    extracted = _balanced_map(pending, by_bucket).withColumn(
        "bucket", url_bucket(n_buckets)
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
    written = (
        spark.read.schema(_OUTPUT_METADATA)
        .parquet(output_path)
        .filter(~_in_buckets(done))
    )
    # Collected lineage rows are ≤ n_buckets — bounded and tiny.
    lineage_local = lineage_rows(written, run_id, n_buckets).collect()
    _append_lineage(spark, lineage_local, lineage_path)
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
    latest = _latest(spark, lineage_path)
    done = {} if latest is None else {
        r.bucket: r for r in latest.filter(F.col("status") == "done").collect()
    }
    found = {}
    fs, Path = hadoop_fs(spark, output_path)
    if done and fs.exists(Path(output_path)):
        written = (
            spark.read.schema(_OUTPUT_METADATA)
            .parquet(output_path)
            .filter(_in_buckets(list(done)))
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
        _append_lineage(spark, marks, lineage_path)
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
