"""Per-bucket lineage, metrics and resume — the engine's checkpointing.

Replaces the reference's page-granular SQLite state machine
(/root/reference/models/database.py:322-342 page_results;
core/recovery_manager.py:270-334 checkpoints) with partition-granular
lineage rows (FIXTURES.md §3): each url-hash *bucket* that finishes
extraction appends one row ``(run_id, bucket, status, n_docs, n_ok,
n_failed, bytes_in, chars_out, wall_ms, finished_at, content_hash)``
to a lineage table; a rerun anti-joins the input's buckets against
``status='done'`` lineage and processes only what's missing (the
reference's restore-on-boot, task_queue.py:369-443, which *fails*
interrupted tasks because the upload bytes are gone — here the source
table is durable, so resume is true resume).

``content_hash`` is sha256 over the bucket's sorted per-url text
hashes (reference integrity hashing, recovery_manager.py:288-290),
computed with built-in functions so it stays JVM-side; it matches
``textops.content_hash_of`` byte-for-byte.

Output layout: parquet partitioned by ``bucket``, one file per bucket
per run (one task writes each bucket) — idempotent on resume (a
re-written bucket replaces exactly its own directory, the
MERGE-on-key analog of the reference's INSERT OR REPLACE upsert,
database.py:860-869).
"""

from __future__ import annotations

import uuid
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import url_bucket
from .fs import hadoop_fs
from ..operators.extract import EXTRACT_SCHEMA, admit, extract_batch, extract_documents

LINEAGE_SCHEMA = (
    "run_id string, bucket int, status string, n_docs bigint, n_ok bigint, "
    "n_failed bigint, bytes_in bigint, chars_out bigint, wall_ms bigint, "
    "finished_at timestamp, content_hash string"
)

DEFAULT_N_BUCKETS = 64


_LINEAGE_COLUMNS = [
    "run_id",
    "bucket",
    "status",
    "n_docs",
    "n_ok",
    "n_failed",
    "bytes_in",
    "chars_out",
    "wall_ms",
    "finished_at",
    "content_hash",
]


def lineage_rows(extracted: DataFrame, run_id: str) -> DataFrame:
    """Aggregate per-doc extraction rows (already carrying ``bucket``)
    into one lineage row per bucket. All built-ins — no Python."""
    agg = extracted.groupBy("bucket").agg(
        F.lit(run_id).alias("run_id"),
        F.lit("done").alias("status"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("status") == "completed", 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(F.col("status") != "completed", 1).otherwise(0)).alias(
            "n_failed"
        ),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum("chars_out").alias("chars_out"),
        (F.max("elapsed_us") / F.lit(1000)).cast("bigint").alias("wall_ms"),
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


def done_buckets(spark: SparkSession, lineage_path: str) -> Optional[list]:
    """Sorted bucket ids already completed by any prior run, or None if
    no lineage exists yet.

    Collected to the driver on purpose: the done-set is tiny (≤ the
    bucket count) and materializing it FREEZES resume state at plan
    time — a lazy read of the lineage table here would be re-evaluated
    by later actions in the same job, after this run has appended its
    own lineage rows, silently emptying the pending set. A missing
    path is checked for, not read (a failed read logs a Java stack
    trace); a directory with no parquet file yet (a first run killed
    in its lineage append) also counts as no lineage.
    """
    fs, Path = hadoop_fs(spark, lineage_path)
    if not fs.exists(Path(lineage_path)):
        return None
    try:
        lineage = spark.read.parquet(lineage_path)
    except AnalysisException:
        return None
    rows = (
        lineage.filter(F.col("status") == "done").select("bucket").distinct().collect()
    )
    return sorted(r.bucket for r in rows)


# Above this many done buckets, prefer a broadcast anti-join over an
# isin literal (driver-side predicates with huge literal lists bloat
# the plan).  At 10^12-doc scale with ~10^5 buckets the anti-join path
# is the one that runs; both avoid shuffling the big side.
ISIN_MAX_BUCKETS = 10_000


def _filter_not_in_buckets(
    spark: SparkSession,
    df: DataFrame,
    done: Optional[list],
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
    """Input rows whose bucket has no 'done' lineage row (see
    _filter_not_in_buckets), the done-set snapshotted at call time
    (see done_buckets)."""
    with_bucket = input_df.withColumn("bucket", url_bucket(n_buckets))
    done = done_buckets(spark, lineage_path)
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

    scan -> resume filter -> admission -> exchange sending bucket b to
    task b % width -> extract -> write output partitioned by bucket
    (dynamic overwrite: reruns replace exactly the buckets they
    recompute) -> append lineage rows. ``width`` is ``n_partitions``
    (default spark.sql.shuffle.partitions) capped at ``n_buckets``;
    AQE does not coalesce it.

    Returns a small summary dict (counts only — no data collected).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    docs = spark.read.parquet(input_path)
    with_bucket = docs.withColumn("bucket", url_bucket(n_buckets))
    done = done_buckets(spark, lineage_path)
    pending = _filter_not_in_buckets(spark, with_bucket, done)

    if pending.isEmpty():
        return {"run_id": run_id, "buckets_processed": 0, "docs": 0}

    width = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # mapInPandas emits EXTRACT_SCHEMA only: the output's bucket column
    # is the same url_bucket expression, applied again.
    extracted = (
        admit(pending)
        .repartitionById(min(width, n_buckets), "bucket")
        .select("url", "html")
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
        spark, spark.read.parquet(output_path), done
    ).select("bucket", "status", "bytes_in", "chars_out", "elapsed_us", "content_hash")
    # Collected lineage rows are ≤ n_buckets — bounded and tiny.
    lineage_local = lineage_rows(written, run_id).collect()
    spark.createDataFrame(lineage_local, schema=LINEAGE_SCHEMA).write.mode(
        "append"
    ).parquet(lineage_path)
    n_docs = sum(r.n_docs for r in lineage_local)
    n_buckets_done = len(lineage_local)
    return {"run_id": run_id, "buckets_processed": n_buckets_done, "docs": n_docs}


REPAIR_STAGING = "_repair_staging"
# No '=' in the trash name: Spark's hidden-path filter skips '_'/'.'
# prefixed names EXCEPT those containing '=' (partition values may
# start with an underscore), so '_repair_old_bucket=3' would be
# partition-inferred and conflict with 'bucket='.
REPAIR_TRASH_PREFIX = "_repair_old_b"


def _swap_repair_buckets(
    spark: SparkSession, output_path: str, buckets: list
) -> None:
    """Swap staged bucket directories into place, bucket-atomically.

    Per bucket: rename live -> trash, rename staged -> live, delete
    trash. Each rename is a single metadata operation (atomic on
    local/HDFS; object stores need an Iceberg/table-format commit
    instead — documented limitation). A kill between the two renames
    leaves a ``_repair_old_bucket=N`` dir that ``recover_repair`` rolls
    forward or back; both trash and staging start with '_' so Spark's
    partition discovery never sees half a swap.
    """
    fs, Path = hadoop_fs(spark, output_path)
    for b in buckets:
        live = Path(f"{output_path}/bucket={b}")
        trash = Path(f"{output_path}/{REPAIR_TRASH_PREFIX}{b}")
        staged = Path(f"{output_path}/{REPAIR_STAGING}/bucket={b}")
        if not fs.exists(staged):
            continue
        if fs.exists(live):
            fs.rename(live, trash)
        fs.rename(staged, live)
        fs.delete(trash, True)
    fs.delete(Path(f"{output_path}/{REPAIR_STAGING}"), True)


def recover_repair(spark: SparkSession, output_path: str) -> int:
    """Make ``output_path`` consistent after a kill during a repair
    swap: for every ``_repair_old_bucket=N`` trash dir, roll the bucket
    forward (staged copy exists) or back (it doesn't); stale staging is
    discarded. Buckets whose swap never started keep their old data —
    bucket-granular atomicity, the same unit as resume. Returns the
    number of buckets recovered. Idempotent; safe to run at every job
    start."""
    fs, Path = hadoop_fs(spark, output_path)
    root = Path(output_path)
    if not fs.exists(root):
        return 0
    fixed = 0
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not name.startswith(REPAIR_TRASH_PREFIX):
            continue
        b = name[len(REPAIR_TRASH_PREFIX):]
        live = Path(f"{output_path}/bucket={b}")
        staged = Path(f"{output_path}/{REPAIR_STAGING}/bucket={b}")
        if fs.exists(live):
            pass  # swap completed; trash is leftover
        elif fs.exists(staged):
            fs.rename(staged, live)  # roll forward
        else:
            fs.rename(st.getPath(), live)  # roll back
        fs.delete(st.getPath(), True)
        fixed += 1
    fs.delete(Path(f"{output_path}/{REPAIR_STAGING}"), True)
    return fixed


def repair_empty(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    n_partitions: Optional[int] = None,
) -> int:
    """R5, the empty-content repair pass (reference
    task_manager.py:1298-1349: pages 'completed' with empty content are
    re-OCR'd after task completion): re-extract exactly the documents
    whose output is completed-but-empty and patch their buckets.

    The target set is found by a filter on the *output* table (no scan
    of the input beyond a broadcast semi-join on the tiny url list).
    The patch is written to a ``_repair_staging`` dir under the output
    (never read by partition discovery — leading underscore), then each
    affected bucket directory is swapped in atomically
    (``_swap_repair_buckets``): a reader or a kill at any moment sees
    each bucket fully old or fully new, never mixed, and no repair data
    ever sits in executor memory the way the previous
    localCheckpoint-then-overwrite did. Returns the number of documents
    re-extracted.
    """
    recover_repair(spark, output_path)  # heal any interrupted repair
    out = spark.read.parquet(output_path)
    targets = out.filter(
        (F.col("status") == "completed") & (F.col("chars_out") == 0)
    ).select("url", "bucket")
    n_targets = targets.count()
    if n_targets == 0:
        return 0

    docs = spark.read.parquet(input_path)
    todo = docs.join(F.broadcast(targets.select("url")), "url", "left_semi")
    # Reuse the STORED bucket of each target row rather than recomputing
    # url_bucket: inferring the bucket count as max(bucket)+1 is wrong
    # whenever the top buckets happen to be empty (near-certain with
    # large --buckets on modest inputs), and a mismatched modulus would
    # re-assign redone rows to different buckets — the swap would then
    # replace unrelated bucket directories with only the redone rows
    # (silent data loss).
    redone = extract_documents(todo, n_partitions=n_partitions).join(
        F.broadcast(targets), "url"
    )
    # Patch = union of untouched rows in the affected buckets + the
    # re-extracted rows. Writing to staging reads the live output and
    # writes elsewhere — no read-from-overwritten-path hazard, no
    # materialization of kept rows.
    affected = [r.bucket for r in targets.select("bucket").distinct().collect()]
    keep = out.filter(F.col("bucket").isin(affected)).join(
        F.broadcast(targets.select("url")), "url", "left_anti"
    )
    patched = keep.unionByName(redone)
    (
        patched.write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{output_path}/{REPAIR_STAGING}")
    )
    _swap_repair_buckets(spark, output_path, affected)
    return n_targets


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
