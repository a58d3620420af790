"""Lineage + resume tests (SURVEY.md §5.4): partial run, rerun,
no duplicate work, identical final table, integrity hashes."""

import re

import pyspark.sql.functions as F
import pytest

from ocr_spark import textops
from ocr_spark.functions import url_bucket
from ocr_spark.operators import extract_documents
from ocr_spark.plans import pending_after_resume, run_pipeline
from ocr_spark.plans.lineage import (
    ISIN_MAX_BUCKETS,
    _filter_not_in_buckets,
    output_is_complete,
)

N_BUCKETS = 16


@pytest.fixture()
def paths(tmp_path):
    return {
        "output": str(tmp_path / "out"),
        "lineage": str(tmp_path / "lineage"),
    }


class TestRunPipeline:
    def test_full_run_then_noop_rerun(self, spark, corpus_path, paths):
        summary = run_pipeline(
            spark,
            corpus_path,
            paths["output"],
            paths["lineage"],
            run_id="r1",
            n_buckets=N_BUCKETS,
            n_partitions=8,
        )
        assert summary["docs"] == 300
        assert summary["buckets_processed"] == N_BUCKETS
        assert output_is_complete(spark, paths["output"], corpus_path)

        # second run: everything checkpointed -> zero work
        summary2 = run_pipeline(
            spark,
            corpus_path,
            paths["output"],
            paths["lineage"],
            run_id="r2",
            n_buckets=N_BUCKETS,
        )
        assert summary2["docs"] == 0
        assert summary2["buckets_processed"] == 0

    def test_partial_then_resume_identical(self, spark, corpus_path, paths):
        """Simulate a killed run: lineage says only half the buckets
        finished. The resume run must process exactly the missing
        buckets and the final output must equal a clean full run."""
        docs = spark.read.parquet(corpus_path)

        # run 1 over only buckets < 8 (a 'partial' universe)
        part1 = docs.withColumn("bucket", url_bucket(N_BUCKETS)).filter(
            F.col("bucket") < 8
        ).drop("bucket")
        part1.write.parquet(paths["output"] + "_in1")
        run_pipeline(
            spark,
            paths["output"] + "_in1",
            paths["output"],
            paths["lineage"],
            run_id="partial",
            n_buckets=N_BUCKETS,
        )

        # resume over the full input
        summary = run_pipeline(
            spark,
            corpus_path,
            paths["output"],
            paths["lineage"],
            run_id="resume",
            n_buckets=N_BUCKETS,
        )
        assert 0 < summary["docs"] < 300  # only missing buckets
        assert output_is_complete(spark, paths["output"], corpus_path)

        # byte-identity of final output vs ground truth
        out = spark.read.parquet(paths["output"]).select("url", "text")
        truth = docs.select("url", F.col("text").alias("expected"))
        mism = (
            out.join(truth, "url")
            .filter(F.col("text") != F.col("expected"))
            .count()
        )
        assert mism == 0

        # resumed run must not have re-processed done buckets
        lineage = spark.read.parquet(paths["lineage"])
        per_bucket_runs = (
            lineage.groupBy("bucket").count().filter(F.col("count") > 1).count()
        )
        assert per_bucket_runs == 0

    def test_lineage_content_hash_matches_oracle(self, spark, corpus_path, paths):
        """The JVM-side combined hash equals textops.content_hash_of."""
        run_pipeline(
            spark,
            corpus_path,
            paths["output"],
            paths["lineage"],
            run_id="r1",
            n_buckets=4,
        )
        lineage = {
            r.bucket: r.content_hash
            for r in spark.read.parquet(paths["lineage"]).collect()
        }
        out = spark.read.parquet(paths["output"]).select(
            "bucket", "content_hash"
        )
        per_bucket = {}
        for row in out.collect():
            per_bucket.setdefault(row.bucket, []).append(row.content_hash or "")
        for bucket, hashes in per_bucket.items():
            assert lineage[bucket] == textops.content_hash_of(hashes), bucket

    def test_no_full_output_persist(self, spark, corpus_path, paths):
        """Scale regression: run_pipeline must not cache the extracted
        table (a persist would push a second text-bearing copy of the
        corpus through memory+disk at 100 TB) — lineage comes from a
        column-pruned re-read of the written parquet instead.

        Delta-based: the suite shares one session and other tests
        legitimately leave cached RDDs behind (localCheckpoint in the
        repair pass, streaming state), so assert run_pipeline ADDS no
        cached RDD rather than that storage is globally empty."""
        sc = spark.sparkContext._jsc.sc()
        before = {s.id() for s in sc.getRDDStorageInfo()}
        run_pipeline(
            spark,
            corpus_path,
            paths["output"],
            paths["lineage"],
            run_id="r1",
            n_buckets=4,
        )
        new = [s for s in sc.getRDDStorageInfo() if s.id() not in before]
        assert len(new) == 0, [str(s) for s in new]

    @pytest.mark.parametrize("n_partitions", [None, 8, 32])
    def test_one_file_per_bucket_same_rows(
        self, spark, corpus_path, paths, monkeypatch, n_partitions
    ):
        """Each bucket is written by exactly one task, at any width:
        one parquet file per bucket directory, the same rows as
        extract_documents, and lineage sums that add up. The written
        plan has one exchange, keyed on the bucket, and one
        MapInPandas."""
        import glob
        import os

        from pyspark.sql import DataFrameWriter

        plans = []
        write = DataFrameWriter.parquet

        def capture(writer, path, *args, **kwargs):
            plans.append(writer._df._jdf.queryExecution().executedPlan().toString())
            return write(writer, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", capture)
        summary = run_pipeline(
            spark,
            corpus_path,
            paths["output"],
            paths["lineage"],
            n_buckets=N_BUCKETS,
            n_partitions=n_partitions,
        )
        monkeypatch.undo()
        assert summary["docs"] == 300

        bucket_dirs = glob.glob(os.path.join(paths["output"], "bucket=*"))
        assert len(bucket_dirs) == N_BUCKETS
        for d in bucket_dirs:
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d

        plan = plans[0]
        assert plan.count("Exchange") == 1, plan
        exchange = next(line for line in plan.splitlines() if "Exchange" in line)
        assert "shufflepartitionidpassthrough" in exchange, plan
        key = re.search(r"direct_shuffle_partition_id\((bucket#\d+)\)", exchange)
        assert key, plan
        bucket_expr = rf"pmod\(xxhash64\(url#\d+, 42\), {N_BUCKETS}\) as int\) AS {key[1]}\b"
        assert re.search(bucket_expr, plan), plan
        assert "Filter" in plan[plan.index("Exchange"):], plan  # admission first
        assert plan.count("MapInPandas") == 1, plan

        cols = ["url", "content_hash", "status", "bytes_in", "chars_out"]
        got = sorted(
            tuple(r) for r in spark.read.parquet(paths["output"]).select(*cols).collect()
        )
        want = sorted(
            tuple(r)
            for r in extract_documents(spark.read.parquet(corpus_path))
            .select(*cols)
            .collect()
        )
        assert got == want

        lineage = spark.read.parquet(paths["lineage"]).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("n_docs").alias("docs"),
            F.sum("n_ok").alias("ok"),
            F.sum("n_failed").alias("failed"),
            F.sum("bytes_in").alias("bytes"),
            F.sum("chars_out").alias("chars"),
        ).first()
        assert lineage.rows == N_BUCKETS
        assert lineage.docs == len(want)
        assert lineage.ok == sum(r[2] == "completed" for r in want)
        assert lineage.failed == sum(r[2] != "completed" for r in want)
        assert lineage.bytes == sum(r[3] for r in want)
        assert lineage.chars == sum(r[4] for r in want)

    def test_lineage_metrics(self, spark, corpus_path, paths):
        run_pipeline(
            spark,
            corpus_path,
            paths["output"],
            paths["lineage"],
            run_id="r1",
            n_buckets=4,
        )
        lineage = spark.read.parquet(paths["lineage"])
        agg = lineage.agg(
            F.sum("n_docs").alias("docs"),
            F.sum("n_ok").alias("ok"),
            F.sum("bytes_in").alias("bytes"),
            F.sum("chars_out").alias("chars"),
        ).collect()[0]
        assert agg.docs == 300
        assert agg.ok == 300
        assert agg.bytes > 0 and agg.chars > 0


class TestPendingAfterResume:
    def test_no_lineage_means_everything_pending(self, spark, corpus_path, tmp_path):
        docs = spark.read.parquet(corpus_path)
        pending = pending_after_resume(
            spark, docs, str(tmp_path / "missing"), n_buckets=8
        )
        assert pending.count() == 300

    def test_anti_join_is_broadcast(self, spark, corpus_path, paths):
        """Above ISIN_MAX_BUCKETS done ids the resume filter must
        broadcast the done-set, not shuffle the documents table; at or
        below it (the real done-set here) it must compile to a plain
        filter with no join at all."""
        run_pipeline(
            spark, corpus_path, paths["output"], paths["lineage"], n_buckets=8
        )
        docs = spark.read.parquet(corpus_path)
        pending = _filter_not_in_buckets(
            spark,
            docs.withColumn("bucket", url_bucket(8)),
            list(range(ISIN_MAX_BUCKETS + 1)),
        )
        plan = pending._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

        pending_isin = pending_after_resume(
            spark, docs, paths["lineage"], n_buckets=8
        )
        plan2 = pending_isin._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan2
        assert pending_isin.count() == 0  # everything done

    def test_done_set_frozen_at_plan_time(self, spark, corpus_path, paths):
        """Regression: actions evaluated after this run appends its own
        lineage must not see the new rows (the pending-set is frozen
        when pending_after_resume is called)."""
        docs = spark.read.parquet(corpus_path)
        pending = pending_after_resume(spark, docs, paths["lineage"], n_buckets=8)
        # now a run completes everything and appends lineage
        run_pipeline(
            spark, corpus_path, paths["output"], paths["lineage"], n_buckets=8
        )
        # the previously-planned DataFrame still sees the old state
        assert pending.count() == 300


class TestRepairEmpty:
    """R5: targeted re-extraction of completed-but-empty output rows
    (reference task_manager.py:1298-1349)."""

    def test_repair_restores_corrupted_rows(self, spark, tmp_path):
        import pyarrow.parquet as pq
        import pyarrow as pa
        import os
        from pyspark.sql import functions as F
        from ocr_spark.corpus import write_corpus
        from ocr_spark.plans.lineage import output_is_complete, repair_empty, run_pipeline

        inp = str(tmp_path / "in.parquet")
        write_corpus(inp, 100, seed=17)
        out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
        run_pipeline(spark, inp, out, lin, n_buckets=8)
        golden = {
            r.url: r.content_hash
            for r in spark.read.parquet(out).select("url", "content_hash").collect()
        }

        # simulate a transient fault: blank 3 docs inside one bucket file
        bucket_dirs = [d for d in os.listdir(out) if d.startswith("bucket=")]
        bdir = os.path.join(out, sorted(bucket_dirs)[0])
        # pick the largest part file so we can blank several rows
        parts = [
            os.path.join(bdir, x)
            for x in os.listdir(bdir)
            if x.endswith(".parquet")
        ]
        f = max(parts, key=os.path.getsize)
        t = pq.read_table(f).to_pylist()
        n_corrupt = min(3, len(t))
        corrupted = [r["url"] for r in t[:n_corrupt]]
        for r in t[:n_corrupt]:
            r["text"], r["chars_out"], r["status"] = "", 0, "completed"
        pq.write_table(pa.Table.from_pylist(t, schema=pq.read_table(f).schema), f)
        crc = os.path.join(bdir, "." + os.path.basename(f) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)  # stale Hadoop checksum sidecar
        spark.catalog.refreshByPath(out)  # drop cached file statuses

        n = repair_empty(spark, inp, out, n_partitions=4)
        assert n == n_corrupt and n >= 1
        fixed = spark.read.parquet(out)
        assert output_is_complete(spark, out, inp)
        got = {r.url: r.content_hash for r in fixed.select("url", "content_hash").collect()}
        assert got == golden
        assert fixed.filter((F.col("status") == "completed") & (F.col("chars_out") == 0)).count() == 0
        assert corrupted  # sanity: we really corrupted something

    def test_repair_with_sparse_top_buckets(self, spark, tmp_path):
        """Regression (round-2 ADVICE): with many more buckets than
        docs the top buckets are empty, so inferring the bucket count
        as max(bucket)+1 re-assigns redone rows under a wrong modulus
        and the dynamic overwrite replaces unrelated buckets. The
        repair must reuse each target row's STORED bucket instead."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        from ocr_spark.corpus import write_corpus
        from ocr_spark.plans.lineage import (
            output_is_complete,
            repair_empty,
            run_pipeline,
        )

        inp = str(tmp_path / "in.parquet")
        write_corpus(inp, 60, seed=23)
        out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
        run_pipeline(spark, inp, out, lin, n_buckets=4096)
        outdf = spark.read.parquet(out)
        max_bucket = outdf.agg(F.max("bucket")).first()[0]
        assert max_bucket < 4095  # precondition: top buckets ARE empty
        golden = {
            (r.url, r.bucket): r.content_hash
            for r in outdf.select("url", "bucket", "content_hash").collect()
        }

        bucket_dirs = sorted(
            d for d in os.listdir(out) if d.startswith("bucket=")
        )
        bdir = os.path.join(out, bucket_dirs[0])
        parts = [
            os.path.join(bdir, x)
            for x in os.listdir(bdir)
            if x.endswith(".parquet")
        ]
        f = max(parts, key=os.path.getsize)
        t = pq.read_table(f).to_pylist()
        t[0]["text"], t[0]["chars_out"], t[0]["status"] = "", 0, "completed"
        pq.write_table(pa.Table.from_pylist(t, schema=pq.read_table(f).schema), f)
        crc = os.path.join(bdir, "." + os.path.basename(f) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
        spark.catalog.refreshByPath(out)

        assert repair_empty(spark, inp, out, n_partitions=4) == 1
        fixed = spark.read.parquet(out)
        assert output_is_complete(spark, out, inp)
        got = {
            (r.url, r.bucket): r.content_hash
            for r in fixed.select("url", "bucket", "content_hash").collect()
        }
        assert got == golden  # same rows, same buckets, same bytes

    def test_repair_kill_during_swap_recovers(self, spark, tmp_path):
        """A kill between the two renames of a bucket swap leaves a
        ``_repair_old_bucket=N`` trash dir and no live bucket dir.
        The output must stay readable at every intermediate state
        (the in-flight dirs start with '_', invisible to partition
        discovery), and recover_repair must roll the bucket forward
        when the staged copy exists, back when it doesn't — never a
        mix within a bucket."""
        import os
        import shutil

        from ocr_spark.corpus import write_corpus
        from ocr_spark.plans.lineage import (
            REPAIR_STAGING,
            REPAIR_TRASH_PREFIX,
            output_is_complete,
            recover_repair,
            run_pipeline,
        )

        inp = str(tmp_path / "in.parquet")
        write_corpus(inp, 80, seed=29)
        out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
        run_pipeline(spark, inp, out, lin, n_buckets=8)
        golden = {
            r.url: r.content_hash
            for r in spark.read.parquet(out)
            .select("url", "content_hash")
            .collect()
        }
        b_fwd, b_back = sorted(
            int(d.split("=")[1])
            for d in os.listdir(out)
            if d.startswith("bucket=")
        )[:2]

        # kill state A (roll-forward): staging written, live renamed to
        # trash, second rename never happened
        staged = os.path.join(out, REPAIR_STAGING, f"bucket={b_fwd}")
        shutil.copytree(os.path.join(out, f"bucket={b_fwd}"), staged)
        os.rename(
            os.path.join(out, f"bucket={b_fwd}"),
            os.path.join(out, f"{REPAIR_TRASH_PREFIX}{b_fwd}"),
        )
        # kill state B (roll-back): live renamed to trash, no staged copy
        os.rename(
            os.path.join(out, f"bucket={b_back}"),
            os.path.join(out, f"{REPAIR_TRASH_PREFIX}{b_back}"),
        )

        # half-swapped output is still readable (in-flight dirs hidden)
        spark.catalog.refreshByPath(out)
        readable = spark.read.parquet(out)
        assert readable.count() > 0

        assert recover_repair(spark, out) == 2
        assert recover_repair(spark, out) == 0  # idempotent
        spark.catalog.refreshByPath(out)
        assert output_is_complete(spark, out, inp)
        got = {
            r.url: r.content_hash
            for r in spark.read.parquet(out)
            .select("url", "content_hash")
            .collect()
        }
        assert got == golden
        assert not os.path.exists(os.path.join(out, REPAIR_STAGING))
        assert not any(
            d.startswith(REPAIR_TRASH_PREFIX) for d in os.listdir(out)
        )

    def test_repair_noop_when_clean(self, spark, tmp_path):
        from ocr_spark.corpus import write_corpus
        from ocr_spark.plans.lineage import repair_empty, run_pipeline

        inp = str(tmp_path / "in.parquet")
        write_corpus(inp, 40, seed=19)
        out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
        run_pipeline(spark, inp, out, lin, n_buckets=4)
        assert repair_empty(spark, inp, out) == 0
