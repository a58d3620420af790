"""Extractor correctness: HTML boilerplate stripping and PDF parsing
must reproduce the corpus generator's ground-truth text byte-for-byte
(the BASELINE.json per-row invariant), plus behavior on edge inputs."""

import random

import pytest

from ocr_spark import corpus
from ocr_spark.html_extract import html_extract, tokenize_blocks
from ocr_spark.pdf_extract import pdf_extract, pdf_extract_pages


class TestHtmlExtract:
    def test_simple_article(self):
        html = b"""<!DOCTYPE html><html><head><title>T</title>
        <script>var x = '<p>fake</p>';</script></head>
        <body><nav><a href="/">Home</a><a href="/a">About</a></nav>
        <article><h1>Real Title</h1>
        <p>First paragraph with enough words here.</p>
        <p>Second paragraph also has many words.</p></article>
        <footer><p>Copyright footer text here always</p></footer>
        </body></html>"""
        out = html_extract(html)
        assert out.text == (
            "Real Title\n\nFirst paragraph with enough words here."
            "\n\nSecond paragraph also has many words."
        )

    def test_link_dense_block_dropped(self):
        html = (
            b"<body><p><a href='/1'>one</a> <a href='/2'>two</a> "
            b"<a href='/3'>three</a></p>"
            b"<p>real content paragraph with words</p></body>"
        )
        out = html_extract(html)
        assert out.text == "real content paragraph with words"

    def test_boiler_class_subtree_dropped(self):
        html = (
            b"<body><div class='sidebar'><p>tag cloud words many words</p></div>"
            b"<p>keep this paragraph text</p></body>"
        )
        assert html_extract(html).text == "keep this paragraph text"

    def test_entities_decoded(self):
        html = b"<body><p>fish &amp; chips &lt;tag&gt; &quot;quoted&quot;</p></body>"
        assert html_extract(html).text == 'fish & chips <tag> "quoted"'

    def test_whitespace_collapsed(self):
        html = b"<body><p>a\n\t  b   <b>c</b>\nd</p></body>"
        assert html_extract(html).text == "a b c d"

    def test_inline_markup_preserved_text(self):
        html = b"<body><p>one <b>two</b> <em>three</em> <code>four</code> five</p></body>"
        assert html_extract(html).text == "one two three four five"

    def test_comment_skipped(self):
        html = b"<body><!-- <p>ghost content</p> --><p>visible words here</p></body>"
        assert html_extract(html).text == "visible words here"

    def test_style_script_skipped(self):
        html = (
            b"<body><style>p { color: red }</style>"
            b"<script>document.write('<p>no</p>')</script>"
            b"<p>yes content here</p></body>"
        )
        assert html_extract(html).text == "yes content here"

    def test_spans_cover_text(self):
        html = b"<body><h1>Head</h1><p>body paragraph words</p></body>"
        out = html_extract(html)
        assert len(out.spans) == 2
        for span in out.spans:
            seg = out.text[span["start"] : span["start"] + span["length"]]
            assert seg and "\n" not in seg
        assert out.spans[0]["kind"] == "heading"

    def test_empty_and_garbage(self):
        assert html_extract(b"").text == ""
        assert html_extract(b"<><<>>").text == ""
        # unterminated tag — must not raise
        html_extract(b"<body><p>abc")

    def test_nested_div_blocks(self):
        html = (
            b"<body><div><div><p>inner paragraph has words</p></div>"
            b"<p>outer paragraph has words</p></div></body>"
        )
        out = html_extract(html)
        assert out.text == "inner paragraph has words\n\nouter paragraph has words"

    def test_utf8_content(self):
        html = "<body><p>数据 管道 提取 引擎 分析</p></body>".encode("utf-8")
        assert html_extract(html).text == "数据 管道 提取 引擎 分析"

    def test_raw_text_skip_keeps_content_after_length_changing_lowercase(self):
        # 'İ'.lower() is two characters; the raw-text skip must still find
        # </script> in the original string.
        for ch in ("İ", "I"):
            html = (
                "<p>" + ch * 40 + " istanbul</p><script>var x = 1;</script>"
                "<p>Main content words here.</p><p>Second paragraph of text.</p>"
            )
            assert html_extract(html.encode("utf-8")).text == (
                ch * 40 + " istanbul\n\nMain content words here."
                "\n\nSecond paragraph of text."
            )

    def test_raw_text_close_tag_any_case(self):
        html = b"<p>before the script</p><SCRIPT>x<p>no</p></ScRiPt ><p>after the script</p>"
        assert html_extract(html).text == "before the script\n\nafter the script"

    def test_stray_closes_cost_constant_time(self):
        """Closes of a tag that is not open, under a deep stack, cost
        O(1) each: 65,536 of them took minutes when each scanned the
        stack."""
        import time

        n = 65536
        html = ("<div>" * n + "</span>" * n + "<p>after the strays</p>").encode()
        t0 = time.monotonic()
        assert html_extract(html).text == "after the strays"
        assert time.monotonic() - t0 < 10.0

    def test_close_unwinds_to_nearest_open_tag(self):
        # </div> closes the unclosed <p> and <nav> inside it; </nav> after
        # that is stray, so the boilerplate context ended with the div
        html = (
            b"<div><nav><p>menu entry words</div></nav>"
            b"<p>content after the div</p></b>"
        )
        assert html_extract(html).text == "content after the div"

    def test_block_count_metrics(self):
        html = b"<body><nav><a href='/'>Home</a></nav><p>content words here</p></body>"
        out = html_extract(html)
        assert out.metrics["n_content_blocks"] == 1
        assert out.metrics["n_boiler_blocks"] >= 1


def _flate_pdf(streams):
    """A PDF with one page per flate-compressed content stream."""
    n = len(streams)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    out = (
        b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        + f"2 0 obj\n<< /Type /Pages /Kids [{kids}] /Count {n} >>\nendobj\n".encode()
    )
    for i, comp in enumerate(streams):
        page, content = 3 + 2 * i, 4 + 2 * i
        out += (
            f"{page} 0 obj\n<< /Type /Page /Parent 2 0 R /Contents {content} 0 R >>\n"
            f"endobj\n{content} 0 obj\n<< /Length {len(comp)} /Filter /FlateDecode >>\n"
            "stream\n"
        ).encode() + comp + b"\nendstream\nendobj\n"
    return out


class TestPdfExtract:
    def test_roundtrip_single_page(self):
        rng = random.Random(7)
        pdf, truth = corpus.make_pdf(rng, n_pages=1)
        assert pdf_extract(pdf).text == truth

    def test_roundtrip_multi_page(self):
        rng = random.Random(11)
        pdf, truth = corpus.make_pdf(rng, n_pages=4)
        out = pdf_extract(pdf)
        assert out.text == truth
        assert out.metrics["n_pages"] == 4

    def test_pages_in_order(self):
        rng = random.Random(5)
        pdf, truth = corpus.make_pdf(rng, n_pages=2)
        pages = pdf_extract_pages(pdf)
        assert "\n\n".join(pages) == truth

    def test_escapes(self):
        # hand-built content with escaped parens and backslash
        import zlib

        content = rb"BT /F1 12 Tf 72 720 Td (a \(b\) c\\d) Tj ET"
        comp = zlib.compress(content)
        pdf = (
            b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
            b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
            b"4 0 obj\n<< /Length "
            + str(len(comp)).encode()
            + b" /Filter /FlateDecode >>\nstream\n"
            + comp
            + b"\nendstream\nendobj\n"
        )
        assert pdf_extract(pdf).text == "a (b) c\\d"

    def test_flate_bomb_fails_at_inflate_budget(self, monkeypatch):
        import zlib

        from ocr_spark import pdf_extract as pdf_module
        from ocr_spark.operators.extract import _extract

        monkeypatch.setattr(pdf_module, "MAX_INFLATED_BYTES", 1 << 20)
        bomb = zlib.compress(b"BT (a) Tj ET " + b" " * (4 << 20), 9)
        pdf = _flate_pdf([bomb])
        assert len(pdf) < 16 << 10
        with pytest.raises(ValueError, match="MAX_INFLATED_BYTES"):
            pdf_extract_pages(pdf)
        kind, status, error, pages, out = _extract(pdf)
        assert (kind, status, pages, out) == ("pdf", "failed", [], None)
        assert "MAX_INFLATED_BYTES" in error

    def test_inflate_budget_is_per_document(self, monkeypatch):
        import zlib

        from ocr_spark import pdf_extract as pdf_module

        monkeypatch.setattr(pdf_module, "MAX_INFLATED_BYTES", 1 << 20)
        stream = zlib.compress(b"BT (a) Tj ET " + b" " * (600 << 10))
        assert pdf_extract_pages(_flate_pdf([stream])) == ["a"]
        with pytest.raises(ValueError, match="MAX_INFLATED_BYTES"):
            pdf_extract_pages(_flate_pdf([stream, stream]))

    def test_broken_flate_stream_skipped(self):
        import zlib

        good = zlib.compress(b"BT (kept) Tj ET")
        truncated = zlib.compress(b"BT (lost) Tj ET")[:-4]
        assert pdf_extract_pages(_flate_pdf([truncated, good + b"trailing"])) == ["", "kept"]

    def test_garbage_returns_empty(self):
        assert pdf_extract(b"%PDF-1.4 garbage").text == ""

    def test_shared_kids_chain_visits_each_node_once(self):
        """A /Pages chain whose every node lists its child twice reaches
        the one page along 2^depth paths; walking each node once lists
        it once, in time linear in the chain."""
        import time

        depth = 24
        out = b"%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        for node in range(2, 2 + depth):
            kid = f"{node + 1} 0 R"
            out += f"{node} 0 obj\n<< /Type /Pages /Kids [{kid} {kid}] >>\nendobj\n".encode()
        page, content = 2 + depth, 3 + depth
        out += (
            f"{page} 0 obj\n<< /Type /Page /Contents {content} 0 R >>\nendobj\n"
            f"{content} 0 obj\n<< >>\nstream\nBT (only) Tj ET\nendstream\nendobj\n"
        ).encode()
        t0 = time.monotonic()
        assert pdf_extract_pages(out) == ["only"]
        assert time.monotonic() - t0 < 5.0

    def test_runs_at_distinct_y_cost_linear_time(self):
        """One page of runs, each on a line of its own: finding a run's
        line is O(1), not a scan of every line made so far (65,536 runs
        took minutes that way)."""
        import time

        n = 65536
        content = b"BT " + b"".join(b"0 -1 Td (w%d) Tj " % k for k in range(n)) + b"ET"
        t0 = time.monotonic()
        assert pdf_extract_pages(_plain_pdf(content)) == [
            "\n".join(f"w{k}" for k in range(n))
        ]
        assert time.monotonic() - t0 < 10.0

    def test_run_joins_first_made_line_within_tolerance(self):
        # lines at y=2 and y=1.4; a run at 1.7 is within 0.5 of both
        content = b"BT 0 2 Td (a) Tj 0 -0.6 Td (b) Tj 0 0.3 Td (c) Tj ET"
        assert pdf_extract_pages(_plain_pdf(content)) == ["ac\nb"]

    def test_non_finite_y_makes_a_line_per_run(self):
        # a 400-digit operand overflows to inf, and inf - inf is nan;
        # neither is within tolerance of anything, itself included
        big = b"9" * 400
        content = (
            b"BT 0 " + big + b" Td (a) Tj 0 -" + big
            + b" Td (b) Tj (c) Tj 0 0 Td (d) Tj ET"
        )
        assert pdf_extract_pages(_plain_pdf(content)) == ["a\nb\nc\nd"]

    def test_unterminated_objects_scan_in_linear_time(self):
        """Object headers with no endobj after a whole pdf: each object
        runs to the end of the file. The scan searches the pdf in place
        and resumes each search where the last one stopped (32,768 of
        them took minutes when each copied and searched the rest of
        the file)."""
        import time

        from ocr_spark.pdf_extract import _scan_objects

        pdf, truth = corpus.make_pdf(random.Random(5))
        n = 32768
        tail = b"9999 0 obj\n<< /Length 4 >>\n" * n + b"stream\nabcdef"
        t0 = time.monotonic()
        objects = _scan_objects(pdf + tail)
        assert "\n\n".join(p for p in pdf_extract_pages(pdf + tail) if p) == truth
        assert time.monotonic() - t0 < 10.0
        body, data = objects[9999]
        assert bytes(body) == b"\n<< /Length 4 >>\n" and data == b"abcd"

    def test_many_seeds_roundtrip(self):
        for seed in range(40):
            rng = random.Random(1000 + seed)
            pdf, truth = corpus.make_pdf(rng)
            assert pdf_extract(pdf).text == truth, f"seed {seed}"


class TestAdmission:
    """The kernel's admission rule (reference F1 size caps, F3 unknown
    type), at each cap's exact boundary. ``size`` stands in for the
    true length that ``admit`` ships beside a cut payload."""

    def test_pdf_cap_boundary(self):
        import zlib

        from ocr_spark.functions import MAX_PDF_BYTES
        from ocr_spark.operators.extract import _extract

        pdf = _flate_pdf([zlib.compress(b"BT (a) Tj ET")])
        assert _extract(pdf, size=MAX_PDF_BYTES)[:3] == ("pdf", "completed", None)
        assert _extract(pdf, size=MAX_PDF_BYTES + 1) == (
            "pdf", "rejected", "pdf too large", [], None
        )

    def test_html_cap_boundary(self):
        from ocr_spark.functions import MAX_HTML_BYTES, MAX_PDF_BYTES
        from ocr_spark.operators.extract import _extract

        html = b"<html><body><p>fine words here</p></body></html>"
        assert _extract(html, size=MAX_HTML_BYTES)[:3] == ("html", "completed", None)
        for size in (MAX_HTML_BYTES + 1, MAX_PDF_BYTES + 1):
            assert _extract(html, size=size) == (
                "html", "rejected", "html too large", [], None
            )

    def test_unknown_kind_rejected_at_any_size(self):
        from ocr_spark.functions import MAX_PDF_BYTES
        from ocr_spark.operators.extract import _extract

        rejected = ("unknown", "rejected", "unsupported payload type", [], None)
        for payload in (None, b"", b"  \n", b"\x00\x01 binary"):
            assert _extract(payload) == rejected
            assert _extract(payload, size=MAX_PDF_BYTES + 1) == rejected

    def test_size_defaults_to_payload_length(self, monkeypatch):
        from ocr_spark.operators import extract as extract_module

        html = b"<p>fine words here</p>"
        monkeypatch.setitem(extract_module._CAPS, "html", (len(html), "html too large"))
        assert extract_module._extract(html)[1] == "completed"
        assert extract_module._extract(html + b" ")[1:3] == ("rejected", "html too large")


class TestCorpusRoundtrip:
    """The central contract: extractor(payload) == ground truth text,
    byte-for-byte, for every generated row."""

    def test_roundtrip_500_rows(self):
        from ocr_spark.textops import sniff_kind

        n_checked = {"html": 0, "pdf": 0}
        for row in corpus.generate_rows(500, seed=42):
            kind = sniff_kind(row["html"])
            if kind == "pdf":
                got = pdf_extract(row["html"]).text
            else:
                got = html_extract(row["html"]).text
            assert got == row["text"], f"mismatch at {row['url']} ({kind})"
            n_checked[kind] += 1
        assert n_checked["html"] > 300
        assert n_checked["pdf"] > 20

    def test_determinism(self):
        a = list(corpus.generate_rows(50, seed=9))
        b = list(corpus.generate_rows(50, seed=9))
        assert a == b

    def test_zipf_host_skew(self):
        from collections import Counter

        hosts = Counter(
            row["url"].split("/")[2] for row in corpus.generate_rows(2000, seed=1)
        )
        top = hosts.most_common(1)[0][1]
        assert top > 2000 * 0.05  # head host dominates
        assert len(hosts) > 50  # but there is a long tail


# ---------------------------------------------------------------------------
# Golden digest: one sha256 over the extractor outputs of a fixed seeded
# corpus. Any change to either kernel must leave it unchanged.
# ---------------------------------------------------------------------------

_HTML_FRAGMENTS = (
    "<", ">", "</", "<!--", "-->", "<!DOCTYPE x>", "<?x", "<![CDATA[", "&amp;",
    "&lt;", "&", "<p>", "</p>", "<div>", "</div>", "<a href=x>", "</a>",
    "<h2>", "</h2>", "<br/>", "<hr>", "<li>", "</ul>", "<b>", "</i>",
    "<script>", "</script>", "<STYLE>", "</style", "<title>", "</title>",
    "<textarea>", "<svg>", "</svg>", "<nav>", "</footer>", '<div class="menu">',
    "<div id='main'>", "<p/>", "< p>", "<1>", "\n", " ", "word",
)

_PDF_FRAGMENTS = (
    "(", ")", "\\", "\\(", "\\053", "\\\n", "<", ">", "<<", ">>", "<4142>",
    "<4 1>", "[", "]", "/", "/F1", "%", "% c\n", "Tj", "TJ", "Td", "TD",
    "T*", "'", '"', "Tm", "TL", "BT", "ET", " 1.5 ", "-.3", "+", ".", "12",
    "\n", " ", "\t", "\x00", "q", "{", "}",
)


def _mutate(rng, text, fragments):
    for _ in range(rng.randint(1, 4)):
        op = rng.random()
        pos = rng.randint(0, len(text))
        if op < 0.6:
            text = text[:pos] + rng.choice(fragments) + text[pos:]
        elif op < 0.8:
            text = text[:pos] + text[pos + rng.randint(1, 8) :]
        else:
            text = text[:pos]
    return text


def _plain_pdf(content: bytes) -> bytes:
    """One-page PDF with an uncompressed, length-free content stream."""
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< >>\nstream\n" + content + b"\nendstream\nendobj\n"
    )


def _golden_records():
    import re
    import zlib

    from ocr_spark.textops import sniff_kind

    def html_record(payload):
        out = html_extract(payload)
        return ("html", out.text, out.spans, sorted(out.metrics.items()))

    def pdf_record(payload):
        try:
            return ("pdf", pdf_extract_pages(payload))
        except Exception as exc:  # the class is part of the record
            return ("pdf-error", type(exc).__name__)

    shapes = (
        dict(n_docs=240, seed=101, pdf_fraction=0.1, paras=(1, 8)),
        dict(n_docs=24, seed=202, pdf_fraction=0.5, paras=(70, 160), pdf_pages=(6, 16)),
    )
    htmls, contents = [], []
    for shape in shapes:
        for row in corpus.generate_rows(**shape):
            payload = row["html"]
            if sniff_kind(payload) == "pdf":
                yield pdf_record(payload)
                for m in re.finditer(rb"stream\n(.*?)\nendstream", payload, re.S):
                    contents.append(zlib.decompress(m.group(1)).decode("latin-1"))
            else:
                yield html_record(payload)
                htmls.append(payload.decode("utf-8"))

    rng = random.Random(4242)
    small_htmls = [h for h in htmls if len(h) < 8000]
    for _ in range(1500):
        text = _mutate(rng, rng.choice(small_htmls), _HTML_FRAGMENTS)
        yield html_record(text.encode("utf-8"))
    for _ in range(1500):
        text = _mutate(rng, rng.choice(contents), _PDF_FRAGMENTS)
        yield pdf_record(_plain_pdf(text.encode("latin-1")))


def test_fused_commands_match_the_token_loop():
    """_extract_runs takes a whole ``x y Td``, ``(lit) Tj``, ``T*`` or
    ``a b c d e f Tm`` in one step while its operand stack is empty. A
    comment between every pair of tokens leaves every multi-token
    command to the token loop, so the two streams must give the same
    runs, or raise the same error, whatever the operands."""
    from ocr_spark.pdf_extract import _extract_runs

    rng = random.Random(77)

    def runs(stream):
        try:
            return _extract_runs(stream)
        except Exception as exc:  # wrong operand types raise; the class is the result
            return type(exc).__name__

    def num():
        return rng.choice(("0", "12", "-14", "+3", "1.5", "-.3", ".25", "72.", "700"))

    operands = (
        num, num, num,
        lambda: "(" + rng.choice(("", "a b", "x%y", "tail.")) + ")",
        lambda: "(esc\\(aped)",
        lambda: "<4142>",
        lambda: "/F1",
        lambda: "[(a) -20 (b)]",
    )
    operators = ("Td", "TD", "Tm", "Tj", "T*", "TJ", "'", "TL", "BT", "ET", "Tf", "Tz")
    for _ in range(400):
        tokens = ["BT"]
        for _ in range(rng.randint(1, 30)):
            shape = rng.random()
            if shape < 0.2:
                tokens += [num(), num(), rng.choice(("Td", "TD"))]
            elif shape < 0.35:
                tokens += [operands[3](), "Tj"]
            elif shape < 0.45:
                tokens += [num() for _ in range(6)] + ["Tm"]
            elif shape < 0.55:
                tokens.append("T*")
            else:
                tokens += [rng.choice(operands)() for _ in range(rng.randint(0, 3))]
                tokens.append(rng.choice(operators))
        plain = rng.choice((" ", "\n", "\t", " \x00 ")).join(tokens).encode("latin-1")
        commented = "%c\n".join(tokens).encode("latin-1")
        assert runs(plain) == runs(commented), plain


def test_object_headers_match_the_forward_scan():
    """_object_headers finds each header from its ``obj``; it must give
    exactly the matches of a forward ``_OBJ_RE.finditer``."""
    from ocr_spark.pdf_extract import _OBJ_RE, _object_headers

    rng = random.Random(99)
    fragments = (
        b"obj", b"1", b"12", b"0", b" ", b"\n", b"\r\n", b"\t", b"\x0c", b"x",
        b"_", b"objx", b"endobj", b"9 0 obj", b"<<", b">>", b"(", b"stream",
    )
    for _ in range(3000):
        data = b"".join(rng.choice(fragments) for _ in range(rng.randint(0, 40)))
        want = [(m.span(), m.groups()) for m in _OBJ_RE.finditer(data)]
        assert [(m.span(), m.groups()) for m in _object_headers(data)] == want, data


GOLDEN_SHA256 = "752cac22e81c2c8103e473dbffe38e8e4a86b8bf5fb695d3e2580118e059d9e1"


def test_golden_digest():
    import hashlib

    digest = hashlib.sha256()
    n = 0
    for record in _golden_records():
        digest.update(repr(record).encode("utf-8"))
        n += 1
    assert n == 240 + 24 + 3000
    assert digest.hexdigest() == GOLDEN_SHA256
