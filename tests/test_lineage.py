"""Lineage + resume tests (SURVEY.md §5.4): partial run, rerun,
no duplicate work, identical final table, integrity hashes."""

import re

import pyspark.sql.functions as F
import pytest

from ocr_spark import textops
from ocr_spark.functions import url_bucket
from ocr_spark.operators import extract_documents
from ocr_spark.plans import (
    LINEAGE_SCHEMA,
    audit_buckets,
    pending_after_resume,
    run_pipeline,
)
from ocr_spark.plans.lineage import _in_buckets, done_buckets, output_is_complete

N_BUCKETS = 16

# Completes with no text: every block is boilerplate.
NAV_ONLY = (
    b'<html><body><nav><a href="/">Home</a> <a href="/about">About</a></nav>'
    b"</body></html>"
)


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
        legitimately leave cached RDDs behind (streaming state), so
        assert run_pipeline ADDS no cached RDD rather than that storage
        is globally empty."""
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

    def test_lineage_appends_write_one_file_each(self, spark, corpus_path, paths):
        """A cold run, an audit that finds one lost bucket and the
        resume that redoes it append lineage three times, one file
        each: every later run lists and reads all of them."""
        import glob
        import os
        import shutil

        out, lin = paths["output"], paths["lineage"]
        run_pipeline(spark, corpus_path, out, lin, n_buckets=N_BUCKETS, n_partitions=8)
        shutil.rmtree(os.path.join(out, "bucket=5"))
        assert audit_buckets(spark, out, lin) == [5]
        assert run_pipeline(spark, corpus_path, out, lin, n_buckets=N_BUCKETS)[
            "buckets_processed"
        ] == 1
        assert len(glob.glob(os.path.join(lin, "*.parquet"))) == 3

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
        # the admission guard runs before the exchange
        assert "length(html#" in plan[plan.index("Exchange"):], plan
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

    def test_rejected_rows_accounted_for(self, spark, tmp_path, paths):
        """200 HTML rows plus 5 binary-garbage rows: the output holds all
        205, lineage counts them as n_ok + n_failed + n_rejected, and a
        bucket holding only rejected rows is done, so a rerun is a no-op."""
        candidates = spark.createDataFrame(
            [(f"https://h{i % 7}.example/p/{i}",) for i in range(400)], "url string"
        ).withColumn("bucket", url_bucket(N_BUCKETS))
        by_bucket = [(r.url, r.bucket) for r in candidates.collect()]
        html_urls = [u for u, b in by_bucket if b != N_BUCKETS - 1][:200]
        junk_urls = [u for u, b in by_bucket if b == N_BUCKETS - 1][:5]
        assert len(html_urls) == 200 and len(junk_urls) == 5
        rows = [
            (u, f"<html><body><p>page {i} says hello</p></body></html>".encode())
            for i, u in enumerate(html_urls)
        ] + [(u, b"\x00\x01\xfe\xff binary %d" % i) for i, u in enumerate(junk_urls)]
        inp = str(tmp_path / "mixed.parquet")
        spark.createDataFrame(rows, "url string, html binary").write.parquet(inp)

        summary = run_pipeline(
            spark, inp, paths["output"], paths["lineage"], n_buckets=N_BUCKETS
        )
        assert summary["docs"] == 205
        out = spark.read.parquet(paths["output"])
        assert out.count() == 205
        rejected = out.filter(F.col("status") == "rejected").select(
            "url", "error_message", "bucket"
        )
        assert sorted(tuple(r) for r in rejected.collect()) == sorted(
            (u, "unsupported payload type", N_BUCKETS - 1) for u in junk_urls
        )
        assert output_is_complete(spark, paths["output"], inp)

        lineage = spark.read.parquet(paths["lineage"]).collect()
        assert sum(r.n_docs for r in lineage) == 205
        assert sum(r.n_ok for r in lineage) == 200
        assert sum(r.n_failed for r in lineage) == 0
        assert sum(r.n_rejected for r in lineage) == 5
        for r in lineage:
            assert r.n_docs == r.n_ok + r.n_failed + r.n_rejected, r
        only_rejected = [r for r in lineage if r.bucket == N_BUCKETS - 1]
        assert [(r.status, r.n_docs, r.n_rejected) for r in only_rejected] == [
            ("done", 5, 5)
        ]
        assert done_buckets(spark, paths["lineage"]) == list(range(N_BUCKETS))
        assert audit_buckets(spark, paths["output"], paths["lineage"]) == []
        rerun = run_pipeline(
            spark, inp, paths["output"], paths["lineage"], n_buckets=N_BUCKETS
        )
        assert (rerun["buckets_processed"], rerun["docs"]) == (0, 0)

    def test_rerun_under_other_bucket_count_refused(self, spark, corpus_path, paths):
        """Lineage records the url-hash modulus. A resume under another
        bucket count would file urls in other buckets, duplicating some
        documents and skipping others, so it raises before any work;
        the resume under the recorded count completes the output."""
        docs = spark.read.parquet(corpus_path)
        half = paths["output"] + "_in1"
        docs.withColumn("bucket", url_bucket(8)).filter(F.col("bucket") < 4).drop(
            "bucket"
        ).write.parquet(half)
        run_pipeline(spark, half, paths["output"], paths["lineage"], n_buckets=8)
        for n in (16, 4):
            refused = rf"n_buckets=8\b.*n_buckets={n}\b"
            with pytest.raises(ValueError, match=refused):
                run_pipeline(
                    spark, corpus_path, paths["output"], paths["lineage"], n_buckets=n
                )
            with pytest.raises(ValueError, match=refused):
                pending_after_resume(spark, docs, paths["lineage"], n_buckets=n)
        summary = run_pipeline(
            spark, corpus_path, paths["output"], paths["lineage"], n_buckets=8
        )
        assert 0 < summary["docs"] < 300
        assert output_is_complete(spark, paths["output"], corpus_path)


class TestPendingAfterResume:
    def test_no_lineage_means_everything_pending(self, spark, corpus_path, tmp_path):
        docs = spark.read.parquet(corpus_path)
        pending = pending_after_resume(
            spark, docs, str(tmp_path / "missing"), n_buckets=8
        )
        assert pending.count() == 300

    @pytest.mark.parametrize("n_done,n_buckets", [(64, 128), (10_001, 16_384)])
    def test_done_filter_has_no_join(
        self, spark, corpus_path, tmp_path, lineage_done, n_done, n_buckets
    ):
        """Buckets 0 .. n_done - 1 done: the resume filter is one row
        predicate at any done-set size, with no join and no exchange,
        and keeps exactly the rows of the other buckets."""
        lin = str(tmp_path / "lineage")
        lineage_done(lin, spark.range(n_done), n_buckets)
        docs = spark.read.parquet(corpus_path)
        pending = pending_after_resume(spark, docs, lin, n_buckets=n_buckets)
        plan = pending._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan and "Exchange" not in plan, plan
        want = docs.filter(url_bucket(n_buckets) >= n_done).select("url")
        assert sorted(pending.select("url").collect()) == sorted(want.collect())

    def test_one_bucket_left_of_65536(self, spark, corpus_path, tmp_path, lineage_done):
        """65,535 of 65,536 buckets done: the pending rows are exactly
        the input rows of the one bucket left, and the filter's plan
        is built in well under the seconds an isin list took."""
        import time

        n_buckets = 1 << 16
        docs = spark.read.parquet(corpus_path)
        left = docs.select(url_bucket(n_buckets).alias("b")).first().b
        lin = str(tmp_path / "lineage")
        lineage_done(lin, spark.range(n_buckets).filter(F.col("id") != left), n_buckets)
        done = done_buckets(spark, lin)
        assert len(done) == n_buckets - 1 and left not in done

        pending = pending_after_resume(spark, docs, lin, n_buckets=n_buckets)
        want = docs.filter(url_bucket(n_buckets) == left).select("url").collect()
        assert want and sorted(pending.select("url").collect()) == sorted(want)

        t0 = time.monotonic()  # the filter pending_after_resume builds
        with_bucket = docs.withColumn("bucket", url_bucket(n_buckets))
        with_bucket.filter(~_in_buckets(done))._jdf.queryExecution().executedPlan()
        assert time.monotonic() - t0 < 2.0

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

    def test_latest_lineage_row_decides_done(self, spark, tmp_path):
        """A bucket is done when its latest lineage row by finished_at
        is done, whatever order the rows are stored in: done -> stale
        -> done is done, done -> stale is not."""
        from datetime import datetime, timezone

        columns = [c.split()[0] for c in LINEAGE_SCHEMA.split(", ")]

        def row(bucket, status, second):
            at = datetime(2026, 1, 1, 0, 0, second, tzinfo=timezone.utc)
            values = dict(bucket=bucket, status=status, finished_at=at)
            return tuple(values.get(c) for c in columns)

        rows = [
            row(0, "done", 1), row(0, "stale", 2), row(0, "done", 3),
            row(1, "done", 1), row(1, "stale", 2),
            row(2, "done", 1),
        ]
        lin = str(tmp_path / "lineage")
        spark.createDataFrame(rows[::-1], LINEAGE_SCHEMA).write.parquet(lin)
        assert done_buckets(spark, lin) == [0, 2]


class TestAuditBuckets:
    def test_audit_redoes_damaged_and_lost_buckets(
        self, spark, corpus_path, paths, tmp_path
    ):
        """A bucket whose output rows were damaged and a bucket whose
        directory is gone fail the audit; the next run_pipeline redoes
        exactly those two, byte-identically, and a completed page with
        no text (all boilerplate) is never flagged. Stale rows leave
        the lineage sums alone: over the latest row per bucket they
        equal the input."""
        import os
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        inp, out, lin = str(tmp_path / "in.parquet"), paths["output"], paths["lineage"]
        table = pq.read_table(corpus_path)
        nav = {c: [None] for c in table.column_names}
        nav.update(url=["https://nav.example/only-nav"], html=[NAV_ONLY])
        pq.write_table(
            pa.concat_tables([table, pa.Table.from_pydict(nav, schema=table.schema)]), inp
        )

        def run(run_id):
            return run_pipeline(spark, inp, out, lin, run_id=run_id, n_buckets=N_BUCKETS)

        def output():
            # every column but the per-run task id and timing
            df = spark.read.parquet(out).drop("partition_id", "elapsed_us")
            return sorted(tuple(r) for r in df.collect())

        run("r1")
        first = output()
        nav_row = spark.read.parquet(out).filter(F.col("url") == nav["url"][0]).first()
        assert (nav_row.status, nav_row.chars_out) == ("completed", 0)
        assert audit_buckets(spark, out, lin) == []

        damaged, lost = [b for b in range(N_BUCKETS) if b != nav_row.bucket][:2]
        redo = F.col("bucket").isin(damaged, lost)
        n_redo = spark.read.parquet(out).filter(redo).count()
        bdir = os.path.join(out, f"bucket={damaged}")
        (f,) = [os.path.join(bdir, x) for x in os.listdir(bdir) if x.endswith(".parquet")]
        rows = pq.read_table(f).to_pylist()
        rows[0].update(text="", chars_out=0, content_hash=textops.sha256_text(""))
        pq.write_table(pa.Table.from_pylist(rows, schema=pq.read_table(f).schema), f)
        os.remove(os.path.join(bdir, f".{os.path.basename(f)}.crc"))  # stale checksum
        shutil.rmtree(os.path.join(out, f"bucket={lost}"))

        assert audit_buckets(spark, out, lin) == [damaged, lost]
        assert done_buckets(spark, lin) == sorted(set(range(N_BUCKETS)) - {damaged, lost})
        assert run("r2") == {"run_id": "r2", "buckets_processed": 2, "docs": n_redo}
        assert output() == first
        assert output_is_complete(spark, out, inp)
        assert audit_buckets(spark, out, lin) == []
        assert run("r3")["docs"] == 0

        lineage = spark.read.parquet(lin)
        stale = lineage.filter(F.col("status") == "stale").collect()
        assert sorted(r.bucket for r in stale) == [damaged, lost]
        assert all(
            (r.n_docs, r.n_ok, r.n_failed, r.bytes_in, r.chars_out) == (0, 0, 0, 0, 0)
            for r in stale
        )
        assert lineage.filter(F.col("bucket") == nav_row.bucket).count() == 1
        sums = ["n_docs", "n_ok", "n_failed", "bytes_in", "chars_out"]
        latest = (
            lineage.groupBy("bucket")
            .agg(F.max_by(F.struct("status", *sums), "finished_at").alias("r"))
            .select("r.*")
        )
        assert {r.status for r in latest.collect()} == {"done"}
        got = latest.agg(*(F.sum(c).alias(c) for c in sums)).first()
        want = spark.read.parquet(out).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("status") == "completed").cast("long")).alias("n_ok"),
            F.sum((F.col("status") != "completed").cast("long")).alias("n_failed"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("chars_out").alias("chars_out"),
        ).first()
        assert got == want and got.n_docs == 301
