"""Hostile bytes through the extraction kernel: every payload ends as
one completed, failed or rejected row, in bounded time and memory.

The pdf shapes here each held a worker for minutes, or asked it for
memory without limit, while an object with no ``endobj`` ran on over
the objects after it."""

import random
import re
import time
import tracemalloc
import zlib
from collections import Counter

import pytest

from ocr_spark import corpus
from ocr_spark import pdf_extract as pdf_module
from ocr_spark.operators.extract import _extract
from ocr_spark.pdf_extract import _scan_objects, pdf_extract_pages

CATALOG = b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"


def _unterminated_pages(n: int) -> bytes:
    """N page objects, none with ``endobj``, and no catalog."""
    return b"%PDF-1.4\n" + b"".join(
        b"%d 0 obj\n<< /Type /Page >>\n" % k for k in range(1, n + 1)
    )


def _stream_behind_headers(n: int, size: int = 1 << 20) -> bytes:
    """N flate object headers with no ``endobj``, then one stream."""
    return (
        b"%PDF-1.4\n"
        + b"".join(b"%d 0 obj\n<< /Filter /FlateDecode >>\n" % k for k in range(1, n + 1))
        + b"stream\n"
        + b"x" * size
    )


def _shared_plain_stream(refs: int, size: int, one_page: bool) -> bytes:
    """One plain content stream of about ``size`` bytes, object 4,
    referenced ``refs`` times: by that many pages, or ``refs`` times in
    one page's /Contents array."""
    content = b"BT 0 0 Td " + b"(w) Tj " * (size // 7) + b"ET"
    if one_page:
        kids = [3]
        pages = b"3 0 obj\n<< /Type /Page /Contents [%s] >>\nendobj\n" % b" ".join(
            [b"4 0 R"] * refs
        )
    else:
        kids = list(range(5, 5 + refs))
        pages = b"".join(
            b"%d 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n" % k for k in kids
        )
    return (
        CATALOG
        + b"2 0 obj\n<< /Type /Pages /Kids [%s] >>\nendobj\n"
        % b" ".join(b"%d 0 R" % k for k in kids)
        + pages
        + b"4 0 obj\n<< >>\nstream\n"
        + content
        + b"\nendstream\nendobj\n"
    )


def _plain_pdf(content: bytes) -> bytes:
    return (
        CATALOG
        + b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] >>\nendobj\n"
        + b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        + b"4 0 obj\n<< >>\nstream\n"
        + content
        + b"\nendstream\nendobj\n"
    )


def _decompressed(pdf: bytes) -> bytes:
    """``pdf`` with every flate content stream stored plain, so byte
    mutations reach the content-stream tokenizer."""
    parts, pos = [], 0
    for m in re.finditer(rb"<< /Length (\d+) /Filter /FlateDecode >>\nstream\n", pdf):
        end = m.end() + int(m[1])
        plain = zlib.decompress(pdf[m.end() : end])
        parts += [pdf[pos : m.start()], b"<< >>\nstream\n", plain]
        pos = end
    return b"".join(parts) + pdf[pos:]


def test_unterminated_pages_cost_linear_time():
    """32,768 page objects with no ``endobj``: each body ends at the
    next header, so finding the pages reads each body once (8,192
    took 3 s when every body ran to the end of the file)."""
    n = 32768
    pdf = _unterminated_pages(n)
    t0 = time.monotonic()
    assert pdf_extract_pages(pdf) == [""] * n
    assert _extract(pdf)[:3] == ("pdf", "failed", f"page count {n} exceeds limit")
    assert time.monotonic() - t0 < 5.0


def test_stream_behind_unterminated_headers_is_held_once():
    """200 flate headers with no ``endobj`` before one 1 MiB stream: only
    the last header's body reaches the stream, so it is copied once
    (every header copied it when each ran to the end of the file)."""
    pdf = _stream_behind_headers(200)
    tracemalloc.start()
    try:
        objects = _scan_objects(pdf)
        status = _extract(pdf)[1]
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert status == "completed"
    assert [k for k, (_, data) in objects.items() if data is not None] == [200]
    assert len(objects[200][1]) == 1 << 20
    assert peak < 8 * len(pdf)


@pytest.mark.parametrize("one_page", [False, True], ids=["shared_by_pages", "contents_array"])
def test_plain_stream_references_count_against_content_budget(monkeypatch, one_page):
    """A plain content stream counts against MAX_INFLATED_BYTES once per
    reference, so referencing it from many pages, or many times from
    one page, fails the document instead of parsing it again each time."""
    monkeypatch.setattr(pdf_module, "MAX_INFLATED_BYTES", 1 << 20)
    size = 256 << 10
    few = pdf_extract_pages(_shared_plain_stream(3, size, one_page))
    assert len("".join(few)) == 3 * (size // 7)
    pdf = _shared_plain_stream(500, size, one_page)
    t0 = time.monotonic()
    with pytest.raises(ValueError, match="MAX_INFLATED_BYTES"):
        pdf_extract_pages(pdf)
    kind, status, error, pages, out = _extract(pdf)
    assert (kind, status, pages, out) == ("pdf", "failed", [], None)
    assert "MAX_INFLATED_BYTES" in error
    assert time.monotonic() - t0 < 10.0


def test_header_inside_stream_data_is_stream_bytes():
    """Text shaped like an object header inside stream data neither ends
    the stream nor replaces the real object of that number."""
    assert pdf_extract_pages(_plain_pdf(b"BT (see 3 0 obj) Tj ET")) == ["see 3 0 obj"]


def test_wrong_type_operands_fail_the_row():
    kind, status, error, pages, out = _extract(_plain_pdf(b"BT (a) (b) Td ET"))
    assert (kind, status, pages, out) == ("pdf", "failed", [], None)
    assert error.startswith("TypeError: ")


def _structural_edits(pdf: bytes, rng: random.Random) -> list:
    """The pdf with one structural fault each: a lost ``endobj`` (one or
    all), a lost ``endstream`` or ``stream`` keyword, an inserted
    unterminated object, a truncation, header-like text in a page
    dictionary."""

    def drop_one(pattern: bytes) -> bytes:
        found = list(re.finditer(pattern, pdf))
        if not found:
            return pdf
        m = rng.choice(found)
        return pdf[: m.start()] + pdf[m.end() :]

    at = rng.choice([m.start() for m in re.finditer(rb"\d+ 0 obj", pdf)] or [len(pdf)])
    return [
        drop_one(rb"endobj"),
        pdf.replace(b"endobj", b""),
        drop_one(rb"endstream"),
        drop_one(rb"(?<!end)stream"),
        pdf[:at] + b"99 0 obj\n<< /Type /Page /Contents 5 0 R >>\n" + pdf[at:],
        pdf[: rng.randrange(len(pdf))],
        pdf.replace(b"/Type /Page /Parent", b"/Type /Page /T (7 0 obj) /Parent"),
    ]


def _mutated(payload: bytes, rng: random.Random, mode: int) -> bytes:
    """A byte flip, truncation, duplicated slice or zeroed run past the
    sniffed magic."""
    base = bytearray(payload)
    p = rng.randrange(8, len(base))
    if mode == 0:
        base[p] = rng.randrange(256)
    elif mode == 1:
        base = base[:p]
    elif mode == 2:
        q = rng.randrange(8, p + 1)
        base = base[:p] + base[q:p] + base[p:]
    else:
        base[p : p + 8] = bytes(min(8, len(base) - p))
    return bytes(base)


def test_corruption_fuzz_ends_every_payload(monkeypatch):
    """Seeded html and pdf payloads (flate and plain content streams),
    mutated bytewise and structurally, plus the hostile shapes above:
    ``_extract`` never raises, and each case ends completed, failed or
    rejected inside a per-case time budget. The content budget is cut
    to 1 MiB so that the shared-stream shape fails fast."""
    monkeypatch.setattr(pdf_module, "MAX_INFLATED_BYTES", 1 << 20)
    rng = random.Random(11)
    pdfs = [corpus.make_pdf(random.Random(seed))[0] for seed in range(6)]
    pdfs += [_decompressed(p) for p in pdfs]
    htmls = [
        corpus.make_html(random.Random(k), lang)[0] for k, lang in enumerate(["en", "zh"])
    ]
    seeds = htmls * 2 + pdfs
    cases = [_mutated(seeds[i % len(seeds)], rng, i % 4) for i in range(960)]
    for pdf in pdfs:
        cases += _structural_edits(pdf, rng)
    cases += [
        _unterminated_pages(4096),
        _stream_behind_headers(200),
        _shared_plain_stream(200, 64 << 10, one_page=False),
        _shared_plain_stream(200, 64 << 10, one_page=True),
    ]
    statuses = Counter()
    for case in cases:
        t0 = time.monotonic()
        statuses[_extract(case)[1]] += 1
        assert time.monotonic() - t0 < 5.0
    assert set(statuses) <= {"completed", "failed", "rejected"}
    assert statuses["completed"] and statuses["failed"]
