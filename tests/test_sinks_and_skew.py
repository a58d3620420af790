"""Quarantine routing (F1/F3), the spark-submit job
entrypoint, and the url-hash repartitioning skew guarantee (north rule)."""

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _corpus(spark, tmp_path, n=200, seed=5):
    from ocr_spark.corpus import write_corpus

    path = str(tmp_path / "docs.parquet")
    write_corpus(path, n, seed=seed)
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# sinks
# ---------------------------------------------------------------------------


def test_quarantine_rejects(spark, tmp_path):
    from ocr_spark.operators import extract_documents
    from ocr_spark.sources import sinks

    good = _corpus(spark, tmp_path, n=50)
    bad = spark.createDataFrame(
        [("bad://1", bytearray(b"\x00\x01binary-junk"))], "url string, html binary"
    )
    docs = good.select("url", "html").unionByName(bad)
    n = sinks.quarantine_rejects(extract_documents(docs), str(tmp_path / "q"))
    assert n == 1
    rows = spark.read.parquet(str(tmp_path / "q")).collect()
    assert [tuple(r) for r in rows] == [("bad://1", "unsupported payload type", 13)]


def test_job_entrypoint_cli(tmp_path):
    """jobs/extract.py runs standalone (the spark-submit surface) and
    resumes to a no-op on the second invocation."""
    from ocr_spark.corpus import write_corpus

    inp = str(tmp_path / "in.parquet")
    write_corpus(inp, 80, seed=9)
    out, lin = str(tmp_path / "out"), str(tmp_path / "lineage")
    cmd = [
        sys.executable, os.path.join(REPO, "jobs", "extract.py"),
        "--input", inp, "--output", out, "--lineage", lin, "--buckets", "8",
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r1 = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=600)
    s1 = json.loads(r1.stdout.strip().splitlines()[-1])
    assert s1["docs"] == 80 and s1["buckets_processed"] == 8
    # a first run has no lineage yet, and must not log a stack trace
    assert "FileNotFoundException" not in r1.stderr, r1.stderr[-2000:]
    yld = str(tmp_path / "yield")
    r2 = subprocess.run(
        cmd + ["--yield-report", yld],
        capture_output=True, text=True, env=env, timeout=600,
    )
    s2 = json.loads(r2.stdout.strip().splitlines()[-1])
    assert s2["docs"] == 0 and s2["buckets_processed"] == 0
    # the yield report covers the full output table (not just this
    # run's delta): per-host doc counts sum to the corpus size and
    # extracted chars never exceed payload bytes
    import pyarrow.parquet as pq

    yt = pq.read_table(yld).to_pylist()
    assert sum(r["n_docs"] for r in yt) == 80
    assert all(0 < r["yield_ppm"] <= 1_000_000 for r in yt)
    assert all(r["chars_out"] <= r["bytes_in"] for r in yt)


def test_job_cli_refuses_other_bucket_count(tmp_path):
    """A rerun under another --buckets than the lineage was written
    with ends with one error line and exit status 1, not a traceback."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.corpus import write_corpus

    inp = str(tmp_path / "in.parquet")
    write_corpus(inp, 20, seed=9)
    lin = tmp_path / "lineage"
    lin.mkdir()
    pq.write_table(
        pa.table({
            "run_id": ["r1"],
            "bucket": pa.array([0], pa.int32()),
            "n_buckets": pa.array([8], pa.int32()),
            "status": ["done"],
            "finished_at": pa.array(
                [datetime.now(timezone.utc)], pa.timestamp("us", tz="UTC")
            ),
        }),
        str(lin / "part-0.parquet"),
    )
    cmd = [
        sys.executable, os.path.join(REPO, "jobs", "extract.py"),
        "--input", inp, "--output", str(tmp_path / "out"),
        "--lineage", str(lin), "--buckets", "4",
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    r = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=600)
    assert r.returncode == 1, r.stderr[-2000:]
    assert "Traceback" not in r.stderr, r.stderr[-2000:]
    errors = [line for line in r.stderr.splitlines() if line.startswith("error: ")]
    assert len(errors) == 1, r.stderr[-2000:]
    assert "n_buckets=8" in errors[0] and "n_buckets=4" in errors[0], errors
    assert r.stdout == ""


# ---------------------------------------------------------------------------
# skew / salting (north rule: salt on url-hash, not host)
# ---------------------------------------------------------------------------


def test_url_hash_salting_defuses_host_skew(spark, tmp_path):
    """The corpus's Zipf host distribution makes host-keyed partitions
    pathologically skewed; url-hash partitions stay balanced."""
    docs = _corpus(spark, tmp_path, n=2000, seed=3)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)

    def partition_counts(df):
        return [
            r["count"]
            for r in df.groupBy(F.spark_partition_id().alias("p"))
            .count()
            .collect()
        ]

    p = 16
    by_host = partition_counts(docs.repartition(p, F.xxhash64(host)))
    by_url = partition_counts(docs.repartition(p, F.xxhash64("url")))

    mean = 2000 / p
    # host keying collapses the head hosts into a few giant partitions
    assert max(by_host) > 2.5 * mean
    # url-hash keying is near-uniform and uses every partition
    assert max(by_url) < 1.5 * mean
    assert len(by_url) == p


def test_salted_agg_matches_plain_groupby(spark, tmp_path):
    """Two-stage salted aggregation must be row-identical to the plain
    groupBy while spreading each hot key over n_salts reducers (the
    plan shows the partial (key, salt) exchange before the final)."""
    from ocr_spark.functions.agg import salted_agg

    docs = _corpus(spark, tmp_path, n=200, seed=41)
    host = F.regexp_extract("url", r"//([^/]+)/", 1)
    rows = docs.select(host.alias("host"), F.length("html").alias("b"))
    plain = {
        (r.host): (r.n, r.total, r.mx)
        for r in rows.groupBy("host")
        .agg(
            F.count("b").alias("n"),
            F.sum("b").alias("total"),
            F.max("b").alias("mx"),
        )
        .collect()
    }
    salted = salted_agg(
        rows,
        "host",
        {"n": ("count", "b"), "total": ("sum", "b"), "mx": ("max", "b")},
        n_salts=8,
    )
    got = {(r.host): (r.n, r.total, r.mx) for r in salted.collect()}
    assert got == plain
    plan = salted._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]
    assert "_salt" in final_plan
    assert final_plan.count("Exchange") == 2, final_plan


def test_shuffle_strategy_extraction_identical_output(spark, tmp_path):
    """Over-partitioned shuffle extraction of byte-skewed input (SURVEY
    §4) changes partitioning for oversized rows but never the results."""
    from ocr_spark.operators import extract_documents
    from ocr_spark.sources.wrap import wrap_text_html

    docs = _corpus(spark, tmp_path, n=120, seed=29)
    # plant oversized-but-admissible HTML rows (> 1 MB, < 50 MB cap)
    fat_text = "fat content words " * 80_000  # ~1.4 MB
    fat = spark.createDataFrame(
        [(f"fat://{i}", bytearray(wrap_text_html(fat_text))) for i in range(3)],
        "url string, html binary",
    )
    assert len(wrap_text_html(fat_text)) > 1024 * 1024
    mixed = docs.select("url", "html").unionByName(fat)

    plain = extract_documents(mixed, n_partitions=4)
    routed = extract_documents(mixed, n_partitions=16, strategy="shuffle")
    a = sorted((r.url, r.status, r.content_hash) for r in plain.collect())
    b = sorted((r.url, r.status, r.content_hash) for r in routed.collect())
    assert a == b
    assert sum(1 for u, s, h in b if u.startswith("fat://") and s == "completed") == 3


def test_build_corpus_orchestrator_end_to_end(spark, tmp_path):
    """jobs/build_corpus.py chains extract → prepare → curate → dedup
    → tokenize → report as stage subprocesses, writes a manifest row
    per stage, and --resume skips completed stages.  Input pages wrap
    the driver-testdata documents (whose text carries real stopwords,
    so the Gopher quality gate keeps a nonempty corpus)."""
    from ocr_spark.sources import wrap_as_html

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(120)
        .select(
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example/doc/"), F.col("doc_id").cast("string"),
            ).alias("url"),
            "text",
        )
    )
    pages = str(tmp_path / "pages.parquet")
    wrap_as_html(docs).write.mode("overwrite").parquet(pages)

    work = str(tmp_path / "build")
    cmd = [
        sys.executable, os.path.join(REPO, "jobs", "build_corpus.py"),
        "--input", pages, "--workdir", work, "--buckets", "8",
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    r1 = subprocess.run(cmd, capture_output=True, text=True, env=env, timeout=900)
    assert r1.returncode == 0, r1.stderr[-2000:]
    out1 = json.loads(r1.stdout.strip().splitlines()[-1])
    assert out1["build"] == "ok"

    manifest = json.load(open(os.path.join(work, "manifest.json")))
    stages = manifest["stages"]
    assert set(stages) == {
        "extract", "prepare", "curate", "dedup", "tokenize", "report"
    }
    assert all(s["status"] == "done" for s in stages.values())
    for s in stages.values():
        for p in s["outputs"]:
            assert os.path.exists(p), p
    # the funnel kept a nonempty corpus and never grew it
    assert stages["extract"]["summary"]["docs"] == 120
    assert stages["prepare"]["summary"]["docs"] == 120
    n_curated = stages["curate"]["summary"]["output"]
    assert 0 < n_curated <= 120

    import pyarrow.parquet as pq

    deduped = pq.read_table(os.path.join(work, "deduped"))
    assert 0 < deduped.num_rows <= n_curated
    assert "cluster_id" in deduped.column_names

    # resume: every stage skips (manifest rows untouched, fast)
    r2 = subprocess.run(
        cmd + ["--resume"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert r2.stdout.count("resume — already done") == 6
    assert json.loads(
        open(os.path.join(work, "manifest.json")).read()
    )["stages"] == stages

    # partial build (--stop-after prepare) then full --resume: the
    # completed prefix skips, the remaining stages run — the job-level
    # kill/rerun recovery contract
    work2 = str(tmp_path / "build2")
    cmd2 = [
        sys.executable, os.path.join(REPO, "jobs", "build_corpus.py"),
        "--input", pages, "--workdir", work2, "--buckets", "8",
    ]
    p1 = subprocess.run(
        cmd2 + ["--stop-after", "prepare"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert p1.returncode == 0, p1.stderr[-2000:]
    m1 = json.load(open(os.path.join(work2, "manifest.json")))
    assert set(m1["stages"]) == {"extract", "prepare"}
    p2 = subprocess.run(
        cmd2 + ["--resume"],
        capture_output=True, text=True, env=env, timeout=900,
    )
    assert p2.returncode == 0, p2.stderr[-2000:]
    assert p2.stdout.count("resume — already done") == 2
    m2 = json.load(open(os.path.join(work2, "manifest.json")))
    assert all(s["status"] == "done" for s in m2["stages"].values())
    assert len(m2["stages"]) == 6
    # the resumed build lands the same curated corpus
    assert m2["stages"]["curate"]["summary"]["output"] == n_curated
