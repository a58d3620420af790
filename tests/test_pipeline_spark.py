"""End-to-end Spark pipeline tests: the BASELINE.json contract.

Byte-identical extracted text per url between the Spark pipeline
(mapInPandas extraction) and the corpus ground truth / pure-Python
oracle; built-in assembly (A1) parity; admission; error-row semantics.
"""

import re

import pyspark.sql.functions as F
import pytest

from ocr_spark.operators import (
    assemble_documents,
    extract_documents,
    extract_pages,
    extract_spans,
)


@pytest.fixture(scope="module")
def docs(spark, corpus_path):
    return spark.read.parquet(corpus_path)


class TestExtractDocuments:
    def test_byte_identity_per_url(self, spark, docs):
        """Every url's extracted text equals the generator ground truth."""
        extracted = extract_documents(docs, n_partitions=8)
        joined = (
            extracted.alias("e")
            .join(docs.alias("d"), "url")
            .select(
                "url",
                F.col("e.text").alias("got"),
                F.col("d.text").alias("expected"),
                "e.status",
            )
        )
        total = joined.count()
        assert total == 300
        mismatched = joined.filter(
            (F.col("status") != "completed") | (F.col("got") != F.col("expected"))
        )
        rows = mismatched.limit(5).collect()
        assert not rows, f"mismatches: {[(r.url, r.status) for r in rows]}"

    def test_span_reconstruction_byte_identity(self, spark, docs):
        """T61: reassembling every document from its offset-sliced
        spans equals the document-level extracted text byte-for-byte
        (HTML block spans and PDF page spans both covered)."""
        spans = extract_spans(docs, n_partitions=8)
        rebuilt = spans.groupBy("url").agg(
            F.concat_ws(
                "\n\n",
                F.array_sort(
                    F.collect_list(F.struct("span_idx", "span_text"))
                ).getField("span_text"),
            ).alias("got")
        )
        expected = (
            extract_documents(docs, n_partitions=8)
            .filter(F.col("status") == "completed")
            .select("url", F.col("text").alias("expected"))
        )
        joined = rebuilt.join(expected, "url")
        assert joined.count() == 300
        assert joined.filter(F.col("got") != F.col("expected")).count() == 0
        kinds = {
            r.span_kind
            for r in spans.select("span_kind").distinct().collect()
        }
        assert "page" in kinds  # PDF spans
        assert kinds & {"text", "heading"}  # HTML spans

    def test_span_offsets_match_python_extractor(self, docs):
        """Spark span rows == the pure-Python extractor's spans for a
        sample of payloads, field by field."""
        from ocr_spark.html_extract import html_extract
        from ocr_spark.pdf_extract import pdf_extract
        from ocr_spark.textops import sniff_kind

        sample = docs.orderBy("url").limit(12).collect()
        got = {
            r.url: r
            for r in extract_spans(
                docs.orderBy("url").limit(12), n_partitions=2
            ).collect()
            if r.span_idx == 0
        }
        for row in sample:
            payload = bytes(row.html)
            kind = sniff_kind(payload)
            out = (pdf_extract if kind == "pdf" else html_extract)(payload)
            first = got[row.url]
            sp = out.spans[0]
            assert (first.page, first.start, first.length, first.span_kind) == (
                sp["page"], sp["start"], sp["length"], sp["kind"]
            )
            assert first.span_text == out.text[sp["start"]:sp["start"] + sp["length"]]

    def test_content_hash_matches_oracle(self, spark, docs):
        from ocr_spark.textops import sha256_text

        extracted = extract_documents(docs, n_partitions=4)
        sample = extracted.limit(20).collect()
        for row in sample:
            assert row.content_hash == sha256_text(row.text)

    def test_kind_split(self, spark, docs):
        extracted = extract_documents(docs, n_partitions=4)
        kinds = dict(
            extracted.groupBy("kind").count().rdd.map(tuple).collect()
        )
        assert kinds.get("html", 0) > 200
        assert kinds.get("pdf", 0) > 10

    def test_partition_spread(self, spark, docs):
        """url-hash repartitioning spreads rows across partitions —
        no partition owns more than ~3x the fair share (Zipf hosts
        must NOT concentrate; we key on full url hash)."""
        extracted = extract_documents(docs, n_partitions=8, strategy="shuffle")
        counts = [
            r["count"]
            for r in extracted.groupBy("partition_id").count().collect()
        ]
        assert len(counts) >= 6
        assert max(counts) <= 3 * (300 / 8)

    def test_error_rows_not_exceptions(self, spark):
        """Poison payloads produce rejected rows, not job failures and
        not dropped rows."""
        rows = [
            ("u://ok", b"<html><body><p>fine words here</p></body></html>"),
            ("u://garbage", b"\x00\x01\x02 not anything"),
            ("u://empty", b""),
            ("u://null", None),
        ]
        df = spark.createDataFrame(rows, "url string, html binary")
        out = extract_documents(df).collect()
        by_url = {r.url: r for r in out}
        assert len(out) == len(rows) == len(by_url)
        assert by_url["u://ok"].status == "completed"
        # unknown payloads fail admission (F3), the reference's
        # content-type reject: one rejected row each, with the reason
        for url, payload in rows[1:]:
            r = by_url[url]
            assert (r.kind, r.status, r.error_message) == (
                "unknown", "rejected", "unsupported payload type"
            ), url
            assert (r.text, r.content_hash, r.n_pages, r.chars_out) == (None, None, 0, 0)
            assert r.bytes_in == len(payload or b""), url

    def test_rejected_rows_across_outputs(self, spark):
        """A rejected document has one page-1 row carrying its status and
        reason, and no span rows, like a failed one."""
        rows = [
            ("u://ok", b"<html><body><p>fine words here</p></body></html>"),
            ("u://garbage", b"\x00\x01\x02 not anything"),
        ]
        df = spark.createDataFrame(rows, "url string, html binary")
        pages = {r.url: r for r in extract_pages(df).collect()}
        assert (pages["u://garbage"].page_number, pages["u://garbage"].status) == (
            1, "rejected"
        )
        assert pages["u://garbage"].error_message == "unsupported payload type"
        assert pages["u://garbage"].content is None
        assert {r.url for r in extract_spans(df).collect()} == {"u://ok"}

    def test_admit_cuts_oversized_payload(self, spark, monkeypatch):
        """admit ships a payload over MAX_PDF_BYTES as its first
        SNIFF_BYTES, with its true length beside it for the kernel's
        size caps (TestAdmission in test_extractors.py)."""
        from ocr_spark.operators import extract as extract_module

        monkeypatch.setattr(extract_module, "MAX_PDF_BYTES", 4096)
        big = b"<html><body><p>" + b"w " * 3000 + b"</p></body></html>"
        df = spark.createDataFrame(
            [("u://big", big), ("u://small", b"<p>x</p>")], "url string, html binary"
        )
        got = {
            r.url: (r.shipped, r.bytes_in, r.head)
            for r in extract_module.admit(df)
            .select(
                "url",
                F.length("html").alias("shipped"),
                "bytes_in",
                F.substring("html", 1, 15).alias("head"),
            )
            .collect()
        }
        assert got["u://big"] == (1024, len(big), big[:15])
        assert got["u://small"] == (8, 8, b"<p>x</p>")


class TestAssembly:
    def test_builtin_assembly_matches_udf_assembly(self, spark, docs):
        """extract_pages + Spark-built-in A1 == extract_documents text,
        byte-for-byte, for every url."""
        pages = extract_pages(docs, n_partitions=8)
        assembled = assemble_documents(pages)
        direct = extract_documents(docs, n_partitions=8).select(
            "url", F.col("text").alias("direct_text")
        )
        joined = assembled.join(direct, "url")
        mism = joined.filter(F.col("text") != F.col("direct_text")).count()
        assert mism == 0
        # urls whose every page is empty drop out of assemble (F8) —
        # they exist in `direct` with empty text
        n_assembled = assembled.count()
        n_direct_nonempty = direct.filter(F.length("direct_text") > 0).count()
        assert n_assembled == n_direct_nonempty

    def test_moderation_filter_f7(self, spark):
        """Cancelled+sentinel pages are excluded from assembly; other
        cancelled pages are kept (reference task_manager.py:527-533)."""
        from ocr_spark.textops import MODERATION_BLOCKED_MESSAGE

        rows = [
            ("u1", 1, "completed", None, "first", 5, 0),
            ("u1", 2, "cancelled", MODERATION_BLOCKED_MESSAGE, "BLOCKED", 7, 0),
            ("u1", 3, "completed", None, "third", 5, 0),
            ("u1", 4, "cancelled", "user cancel", "kept", 4, 0),
            ("u1", 5, "completed", None, "", 0, 0),
        ]
        pages = spark.createDataFrame(
            rows,
            "url string, page_number int, status string, error_message string,"
            " content string, content_length bigint, partition_id int",
        )
        out = assemble_documents(pages).collect()
        assert len(out) == 1
        assert out[0].text == "first\n\nthird\n\nkept"

        # oracle parity
        from ocr_spark import textops

        oracle = textops.assemble_pages(
            [
                {
                    "page_number": r[1],
                    "status": r[2],
                    "error_message": r[3],
                    "content": r[4],
                }
                for r in rows
            ]
        )
        assert out[0].text == oracle


def test_shape_parity_across_outputs(spark, docs):
    """Documents, pages and spans project one kernel: per url every
    page row carries the document's status, a failed document has one
    failed page row, a completed document's n_pages is its page-row
    count, and only completed documents have spans. An over-limit
    (501-page) and a truncated PDF ride along with the corpus."""
    from ocr_spark.sources.wrap import _build_pdf

    over = _build_pdf([f"page {i} words" for i in range(501)])
    two = _build_pdf(["first page words", "second page words"])
    extra = spark.createDataFrame(
        [
            ("x://over-limit", bytearray(over)),
            ("x://truncated", bytearray(two[: len(two) // 2])),
        ],
        "url string, html binary",
    )
    mixed = docs.select("url", "html").unionByName(extra)

    documents = {
        r.url: r
        for r in extract_documents(mixed, n_partitions=4)
        .select("url", "status", "n_pages")
        .collect()
    }
    pages = {}
    for r in extract_pages(mixed, n_partitions=4).select("url", "status").collect():
        pages.setdefault(r.url, []).append(r.status)
    span_urls = {
        r.url for r in extract_spans(mixed, n_partitions=4).select("url").collect()
    }

    assert len(documents) == 302
    assert documents["x://over-limit"].status == "failed"
    for url, d in documents.items():
        got = pages.get(url, [])
        if d.status == "failed":
            assert got == ["failed"], url
        else:
            assert got == ["completed"] * d.n_pages, url
    assert span_urls <= {u for u, d in documents.items() if d.status == "completed"}


class TestPlanShape:
    def test_admission_filter_pushed_to_scan(self, spark, corpus_path):
        """The admission guard is a JVM projection over the scan: no
        Python stage evaluates it and no Filter drops a row."""
        from ocr_spark.operators.extract import admit

        docs = spark.read.parquet(corpus_path)
        df = admit(docs)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert not re.search(r"\bFilter\b", plan), plan  # not DataFilters etc.
        assert "length(html#" in plan, plan
        assert df.count() == docs.count()

    def test_single_shuffle_in_extract(self, spark, corpus_path):
        """The scan strategy must not shuffle AT ALL (narrow coalesce
        only); the shuffle strategy exactly once (the explicit url-hash
        repartition) — no hidden extra exchanges either way."""
        df = extract_documents(spark.read.parquet(corpus_path), n_partitions=8)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 0, plan
        shuffled = extract_documents(
            spark.read.parquet(corpus_path), n_partitions=8, strategy="shuffle"
        )
        splan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert splan.count("Exchange") == 1, splan
