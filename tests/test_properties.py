"""Property-based robustness (hypothesis): the extractors must never
raise, must be deterministic, and must uphold their structural
invariants on arbitrary adversarial input — the poison-row guarantee
(R2) that keeps a 100 TB job alive depends on it."""

import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.html_extract import html_extract, tokenize_blocks
from ocr_spark.pdf_extract import pdf_extract, pdf_extract_pages
from ocr_spark.textops import normalize_ws, parse_model_response, sniff_kind

_SETTINGS = dict(max_examples=200, deadline=None)


# ---------------------------------------------------------------------------
# arbitrary bytes: nothing raises, everything is deterministic
# ---------------------------------------------------------------------------


@settings(**_SETTINGS)
@given(st.binary(max_size=2048))
def test_sniff_and_extract_never_raise(payload):
    kind = sniff_kind(payload)
    assert kind in ("pdf", "html", "unknown")
    fn = pdf_extract if kind == "pdf" else html_extract
    out = fn(payload)
    assert isinstance(out.text, str)
    assert fn(payload).text == out.text  # deterministic


@settings(**_SETTINGS)
@given(st.text(max_size=2048))
def test_html_extract_arbitrary_text_never_raises(text):
    out = html_extract(text.encode("utf-8", "surrogatepass") if isinstance(text, str) else text)
    # single-whitespace invariant: output never contains runs or tabs
    assert "  " not in out.text.replace("\n\n", " ")
    for frag in out.text.split("\n\n"):
        assert frag == " ".join(frag.split())


@settings(**_SETTINGS)
@given(
    st.lists(
        st.sampled_from(
            ["<p>", "</p>", "<div class='nav'>", "</div>", "<a href='#'>",
             "</a>", "word", "two words here", "&amp;", "<br>", "<script>",
             "</script>", "<!-- c -->", "<h2>", "</h2>", "<", ">", "</",
             "<p", "x=<y>&"]
        ),
        max_size=60,
    )
)
def test_html_tag_soup_invariants(parts):
    html = "".join(parts)
    blocks = tokenize_blocks(html)
    for text, _tag, chars, link_chars, *_ in blocks:
        assert text == " ".join(text.split())
        assert chars >= 0 and link_chars <= chars + len(text)
    out = html_extract(html.encode())
    # no script content, no angle-bracket markup in extracted text
    assert "<script" not in out.text


@settings(**_SETTINGS)
@given(st.binary(min_size=5, max_size=1024))
def test_pdf_extract_corrupt_bodies_never_raise(junk):
    payload = b"%PDF-1.4\n" + junk
    pages = pdf_extract_pages(payload)
    assert isinstance(pages, list)
    assert pdf_extract_pages(payload) == pages  # deterministic


@settings(**_SETTINGS)
@given(st.text(alphabet=st.characters(codec="latin-1"), max_size=200))
def test_pdf_roundtrip_arbitrary_latin1_line(line):
    """A well-formed single-page PDF built around arbitrary latin-1
    text must round-trip to its normalized form."""
    from ocr_spark.sources.wrap import wrap_text_pdf

    payload = wrap_text_pdf(line)
    got = pdf_extract(payload).text
    assert got == normalize_ws(line)


@settings(**_SETTINGS)
@given(
    # build >=2 words constructively (two non-space chunks joined by a
    # space) instead of filtering arbitrary text, which trips
    # hypothesis's filter_too_much health check on unlucky seeds
    st.builds(
        lambda a, b, rest: f"{a} {b} {rest}".strip(),
        st.text(max_size=50).map(lambda s: "".join(s.split()) or "w"),
        st.text(max_size=50).map(lambda s: "".join(s.split()) or "w"),
        st.text(max_size=400),
    )
)
def test_html_wrap_roundtrip_arbitrary_text(text):
    """Any text at or above the content-word threshold survives the
    wrap -> boilerplate-strip round trip byte-identically."""
    from ocr_spark.sources.wrap import wrap_text_html

    got = html_extract(wrap_text_html(text)).text
    assert got == normalize_ws(text)


def test_html_single_word_below_content_threshold():
    """A one-word paragraph is below MIN_CONTENT_WORDS and is dropped
    by the classifier — the documented floor of the round-trip
    contract (headings are exempt from the threshold)."""
    from ocr_spark.sources.wrap import wrap_text_html

    assert html_extract(wrap_text_html("0")).text == ""
    assert html_extract(b"<h2>0</h2>").text == "0"


# ---------------------------------------------------------------------------
# textops parse (M6/M7): total function over arbitrary strings
# ---------------------------------------------------------------------------


@settings(**_SETTINGS)
@given(st.text(max_size=1024))
def test_parse_model_response_total_and_idempotent_on_plain(s):
    out = parse_model_response(s)
    assert isinstance(out, str)
    assert out == out.strip()


@settings(**_SETTINGS)
@given(st.binary(max_size=512))
def test_sniff_kind_prefix_stability(payload):
    """Appending bytes after a confident prefix never changes the
    sniffed kind (admission routing is prefix-driven)."""
    if sniff_kind(payload) == "pdf":
        assert sniff_kind(payload + b"trailing") == "pdf"


@settings(**_SETTINGS)
@given(st.binary(max_size=300))
def test_flate_bomb_resistance(junk):
    """A PDF whose stream inflates badly or is cut off mid-stream must
    fail soft (empty/partial pages), never raise."""
    comp = zlib.compress(junk * 3 if junk else b"x", 1)
    payload = (
        b"%PDF-1.4\n1 0 obj\n<< /Length "
        + str(len(comp)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + comp[: max(1, len(comp) - 2)]
        + b"\nendstream\nendobj\n"
    )
    assert isinstance(pdf_extract_pages(payload), list)


# ---------------------------------------------------------------------------
# sketch math invariants (pure replicas of the column expressions)
# ---------------------------------------------------------------------------


def _qsk_bucket_py(x: int, sub: int = 16) -> int:
    """Python replica of sketches._qsk_bucket's integer math."""
    e = x.bit_length()
    lo = 1 << (e - 1)
    return (e - 1) * sub + (x - lo) * sub // lo


def _qsk_bounds_py(bucket: int, sub: int = 16):
    e = bucket // sub + 1
    s = bucket % sub
    lo_oct = 1 << (e - 1)
    return lo_oct + s * lo_oct // sub, lo_oct + (s + 1) * lo_oct // sub


@settings(**_SETTINGS)
@given(st.integers(min_value=1, max_value=1 << 50))
def test_quantile_bucket_bounds_contain_value(x):
    b = _qsk_bucket_py(x)
    lo, hi = _qsk_bounds_py(b)
    assert lo <= x < max(hi, lo + 1)
    # relative width bounded by one sub-bucket of the octave
    assert hi - lo <= (1 << (x.bit_length() - 1)) // 16 + 1


@settings(**_SETTINGS)
@given(st.integers(min_value=1, max_value=1 << 49))
def test_quantile_bucket_monotone(x):
    assert _qsk_bucket_py(x) <= _qsk_bucket_py(x + 1)
    assert _qsk_bucket_py(x) <= _qsk_bucket_py(2 * x)


def _chunk_spans_py(n: int, w: int = 400, s: int = 300):
    extra = (n - w + s - 1) // s if n > w else 0
    return [(i * s, min(w, n - i * s)) for i in range(extra + 1)]


@settings(**_SETTINGS)
@given(st.integers(min_value=1, max_value=100_000))
def test_chunk_spans_cover_without_gaps(n):
    spans = _chunk_spans_py(n)
    # full coverage: first starts at 0, last reaches n, consecutive
    # windows overlap (stride < width) or touch exactly
    assert spans[0][0] == 0
    assert spans[-1][0] + spans[-1][1] == n
    for (a, la), (b, _) in zip(spans, spans[1:]):
        assert b <= a + la  # no gap
        assert b == a + 300  # exact stride
    assert all(1 <= ln <= 400 for _, ln in spans)


@settings(**_SETTINGS)
@given(st.integers(min_value=0, max_value=(1 << 60) - 1))
def test_hll_rho_matches_definition(h):
    """rho = 51 - bit_length(w) == 1 + leading zeros of the 50-bit
    suffix (the textbook definition)."""
    w = h >> 10
    rho = 51 if w == 0 else 51 - w.bit_length()
    # definition: position of first 1 from the MSB side of 50 bits
    lead = next(
        (i for i in range(50) if (w >> (49 - i)) & 1), 50
    )
    assert rho == lead + 1
    assert 1 <= rho <= 51


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_jpeg_progressive_equals_baseline(h, w, seed):
    """The progressive and baseline encoders carry bit-identical
    quantized coefficients, so decode_luma of the two streams must be
    EXACTLY equal for any pixel content — the cross-mode invariant
    that pins the whole multi-scan decode path (EOB runs, successive
    approximation, ZRL-split correction bits)."""
    import numpy as np

    from ocr_spark.jpeg import (
        decode_luma,
        encode_gray,
        encode_gray_progressive,
    )

    px = np.random.RandomState(seed).randint(0, 256, (h, w)).astype(np.uint8)
    assert decode_luma(encode_gray(px)) == decode_luma(
        encode_gray_progressive(px)
    )


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.sampled_from(
        [(0, 8), (0, 4), (0, 1), (2, 8), (3, 8), (3, 4), (4, 8), (6, 8),
         (0, 16), (2, 16)]
    ),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_png_adam7_equals_linear(h, w, ct_depth, seed):
    """Adam7-interlaced and linear PNG streams of the same samples
    must decode identically for every color-type/depth combination —
    the pass-split/scatter path has no tolerance to hide behind."""
    import numpy as np
    from test_training_ops import _encode_png

    from ocr_spark.operators.multimodal import _PNG_CHANNELS, decode_image

    ct, depth = ct_depth
    ch = _PNG_CHANNELS[ct]
    rng = np.random.RandomState(seed)
    vals = rng.randint(0, 1 << depth, h * w * ch).tolist()
    kw = {}
    if ct == 3:
        kw["palette"] = [(i * 37 % 256, i * 59 % 256, i * 83 % 256)
                         for i in range(1 << depth)]
    lin = decode_image(_encode_png(w, h, vals, color_type=ct, depth=depth,
                                   filters=[0, 1, 2, 3, 4], **kw))
    adam = decode_image(_encode_png(w, h, vals, color_type=ct, depth=depth,
                                    filters=[4, 3, 2, 1, 0], interlace=1,
                                    **kw))
    assert lin == adam


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_jpeg_arithmetic_equals_baseline(h, w, seed):
    """The SOF9/SOF10 arithmetic encoders carry bit-identical
    quantized coefficients to the baseline encoder, so decode_luma of
    the three streams must be EXACTLY equal for any pixel content —
    this pins the whole QM-coder path (state machine, conditional
    exchange, carry/stuffing byte plumbing, DC/AC conditioning
    contexts, progressive refinement bins) against the
    independently-tested Huffman path."""
    import numpy as np

    from ocr_spark.jpeg import (
        decode_luma,
        encode_gray,
        encode_gray_arith,
        encode_gray_arith_progressive,
    )

    px = np.random.RandomState(seed).randint(0, 256, (h, w)).astype(np.uint8)
    want = decode_luma(encode_gray(px))
    assert decode_luma(encode_gray_arith(px)) == want
    assert decode_luma(encode_gray_arith_progressive(px)) == want


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=1, max_value=30).map(lambda v: 2 * v),
    st.integers(min_value=1, max_value=30).map(lambda v: 2 * v),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_h264_ipcm_roundtrip_exact(h, w, n_frames, seed):
    """I_PCM is lossless, so encode_gray_ipcm -> decode_annexb_luma
    must reproduce every frame EXACTLY for any even dimensions
    (4:2:0 crop units) — pinning Exp-Golomb coding, SPS cropping,
    byte alignment, and emulation prevention in both directions."""
    import numpy as np

    from ocr_spark.h264 import decode_annexb_luma, encode_gray_ipcm

    rng = np.random.RandomState(seed)
    frames = [rng.randint(0, 256, (h, w)).astype(np.uint8)
              for _ in range(n_frames)]
    out = decode_annexb_luma(encode_gray_ipcm(frames))
    assert len(out) == n_frames
    for want, got in zip(frames, out):
        assert np.array_equal(want, got)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=7),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_jpeg_lossless_roundtrip_exact(h, w, pred, seed):
    """SOF3 lossless JPEG is exact by definition: encode -> decode
    must reproduce the pixel grid bit-for-bit for every predictor
    (T.81 Table H.1) on arbitrary content — pinning the DPCM
    prediction order, the 2^16 difference modulo, and the extended
    SSSS 0..16 Huffman table in both directions."""
    import numpy as np

    from ocr_spark.jpeg import decode_lossless_luma, encode_gray_lossless

    px = np.random.RandomState(seed).randint(0, 256, (h, w)).astype(np.uint8)
    gw, gh, luma = decode_lossless_luma(encode_gray_lossless(px, pred))
    assert (gw, gh) == (w, h)
    assert np.array_equal(luma, px)
