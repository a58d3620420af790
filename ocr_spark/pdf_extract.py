"""Pure-Python PDF text extraction (no external libs, no rasterizing).

Replaces the reference's render-page-to-PNG-then-OCR path
(/root/reference/main.py:590-633 pdf_to_images_generator;
core/page_processor.py:502-626 _process_single_page) with direct layout
parsing of the PDF: an object scanner finds indirect objects, the page
tree (/Root -> /Pages -> /Kids) gives page order, content streams are
flate-decoded and tokenized (BT/ET, Td/TD/Tm/T*, Tj/'/TJ), and text
runs are clustered by y into lines, sorted by x within a line.

Per-page text joins lines with '\\n'; the document joins pages with
'\\n\\n' — the reference's assembly separator (core/task_manager.py:542).

Scope is honest (SURVEY.md §7): flate or plain streams, literal/hex
strings, standard simple fonts with latin-1-ish byte mapping — the
profile the corpus generator emits — not arbitrary wild PDFs. Unparseable
objects and broken flate streams are skipped. Objects never overlap: a
body ends at its own ``endobj`` or at the next object header, whichever
comes first, and stream data runs to ``/Length`` or ``endstream``, never
past the ``endobj`` (a header inside it is data). Two things raise, so
the caller records a failed row: content streams past MAX_INFLATED_BYTES
per document (flate output and plain streams, counted once per page
reference), and operands of the wrong type for a text operator.
"""

from __future__ import annotations

import re
import zlib
from itertools import chain, pairwise
from math import isfinite
from typing import Dict, Iterator, List, Optional, Tuple

from .html_extract import Extracted

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b", re.S)
# An _OBJ_RE match is "obj" at a word boundary after whitespace, digits,
# whitespace and digits, each run maximal: so it is found from its
# "obj" (a fast literal search, where _OBJ_RE, led by \d, is tried at
# every byte) by matching that shape backwards on the reversed file.
_OBJ_END_RE = re.compile(rb"obj\b")
_OBJ_HEAD_REVERSED_RE = re.compile(rb"\s+\d+\s+\d+")
_STREAM_RE = re.compile(rb"stream\r?\n")
_REF_RE = re.compile(rb"(\d+)\s+\d+\s+R")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")
_TYPE_PAGE_RE = re.compile(rb"/Type\s*/Page\b(?!s)")
_TYPE_PAGES_RE = re.compile(rb"/Type\s*/Pages\b")
_TYPE_CATALOG_RE = re.compile(rb"/Type\s*/Catalog\b")
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+\d+\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[([^\]]*)\]")
_PAGES_REF_RE = re.compile(rb"/Pages\s+(\d+)\s+\d+\s+R")
_FLATE_RE = re.compile(rb"/Filter\s*/FlateDecode\b")

_LINE_Y_TOLERANCE = 0.5

# Most bytes the content streams of one document may hold, flate
# output or plain, counted once per page reference (MAX_PDF_PAGES pages
# at 128 KiB each). A stream that would pass it raises instead of
# growing memory or time without limit.
MAX_INFLATED_BYTES = 64 * 1024 * 1024


def _object_headers(pdf: bytes) -> Iterator["re.Match"]:
    """The matches of ``_OBJ_RE.finditer(pdf)``, found from each ``obj``:
    two headers never overlap, since each is digits and whitespace up
    to its own ``obj``."""
    reversed_pdf = pdf[::-1]
    n = len(pdf)
    for o in _OBJ_END_RE.finditer(pdf):
        head = _OBJ_HEAD_REVERSED_RE.match(reversed_pdf, n - o.start())
        if head is not None:
            yield _OBJ_RE.match(pdf, n - head.end())


def _scan_objects(pdf: bytes) -> Dict[int, Tuple[bytes, Optional[bytes]]]:
    """Map object number -> (dict/body, raw stream bytes or None), by a
    linear scan for ``N G obj`` (more robust than trusting the xref
    table) and the boundary rule above. Every search is bounded by its
    own object but the one for ``endobj``, whose result is kept until
    an object starts past it, so the scan is linear on any input."""
    objects: Dict[int, Tuple[bytes, Optional[bytes]]] = {}
    n = len(pdf)
    end = data_end = -1  # next endobj (n when there is none) / end of stream data
    for m, following in pairwise(chain(_object_headers(pdf), [None])):
        start = m.end()
        if m.start() < data_end:
            continue
        if end < start:
            end = pdf.find(b"endobj", start)
            if end == -1:
                end = n
        body_end = end if following is None else min(end, following.start())
        sm = _STREAM_RE.search(pdf, start, body_end)
        if sm is None:
            objects[int(m[1])] = (pdf[start:body_end], None)
            continue
        data_start = sm.end()
        lm = _LENGTH_RE.search(pdf, start, sm.start())
        if lm is not None:
            data_end = min(data_start + int(lm[1]), end)
            stream_data = pdf[data_start:data_end]
        else:
            data_end = pdf.find(b"endstream", data_start, end)
            if data_end == -1:
                data_end = end
            stream_data = pdf[data_start:data_end].rstrip(b"\r\n")
        objects[int(m[1])] = (pdf[start : sm.start()], stream_data)
    return objects


def _page_order(objects: Dict[int, Tuple[bytes, Optional[bytes]]]) -> List[int]:
    """Page object numbers in document order via the /Pages tree; falls
    back to file order of /Type /Page objects."""
    catalog_pages: Optional[int] = None
    for num, (body, _) in objects.items():
        if _TYPE_CATALOG_RE.search(body):
            pm = _PAGES_REF_RE.search(body)
            if pm:
                catalog_pages = int(pm.group(1))
            break

    ordered: List[int] = []
    seen = set()

    def walk(node: int, depth: int = 0) -> None:
        # each node once: a shared /Kids node is not walked once per path
        if depth > 32 or node in seen or node not in objects:
            return
        seen.add(node)
        body, _ = objects[node]
        if _TYPE_PAGES_RE.search(body):
            km = _KIDS_RE.search(body)
            if km:
                for rm in _REF_RE.finditer(km.group(1)):
                    walk(int(rm.group(1)), depth + 1)
        elif _TYPE_PAGE_RE.search(body):
            ordered.append(node)

    if catalog_pages is not None:
        walk(catalog_pages)
    if not ordered:
        for num in sorted(objects):
            if _TYPE_PAGE_RE.search(objects[num][0]):
                ordered.append(num)
    return ordered


def _inflate(data: bytes, budget: int) -> Optional[bytes]:
    """Flate-decode ``data``; None unless it is one complete zlib stream
    (trailing bytes are ignored) or its output passes ``budget`` bytes,
    where decoding stops one byte past it."""
    inflater = zlib.decompressobj()
    try:
        out = inflater.decompress(data, budget + 1)
    except zlib.error:
        return None
    return out if inflater.eof or len(out) > budget else None


def _content_streams(
    page_body: bytes, objects: Dict[int, Tuple[bytes, Optional[bytes]]], budget: int
) -> Tuple[List[bytes], int]:
    """The page's content streams, flate-decoded, and what is left of
    the document's content ``budget``. Raises ValueError when they
    would pass it."""
    refs: List[int] = []
    m = _CONTENTS_RE.search(page_body)
    if m:
        refs.append(int(m.group(1)))
    else:
        am = _CONTENTS_ARR_RE.search(page_body)
        if am:
            refs.extend(int(r.group(1)) for r in _REF_RE.finditer(am.group(1)))
    streams = []
    for ref in refs:
        if ref not in objects:
            continue
        body, data = objects[ref]
        if data is None:
            continue
        if _FLATE_RE.search(body):
            data = _inflate(data, budget)
            if data is None:
                continue
        if len(data) > budget:
            raise ValueError(
                f"content streams exceed MAX_INFLATED_BYTES ({MAX_INFLATED_BYTES} per document)"
            )
        budget -= len(data)
        streams.append(data)
    return streams, budget


_ESCAPES = {
    b"n"[0]: "\n",
    b"r"[0]: "\r",
    b"t"[0]: "\t",
    b"b"[0]: "\b",
    b"f"[0]: "\f",
    b"("[0]: "(",
    b")"[0]: ")",
    b"\\"[0]: "\\",
}


# Bytes needing per-char handling inside a literal string; everything
# between them is consumed in bulk (latin-1 decode of a byte run is
# byte-identical to per-char chr()).
_PLAIN_RUN_RE = re.compile(rb"[^\\()]+")


def _parse_literal_string(data: bytes, i: int) -> Tuple[str, int]:
    """Parse a ``(...)`` literal string starting at the '('; returns
    (text, index just past the closing paren)."""
    out: List[str] = []
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth > 0:
        c = data[i]
        if c not in (0x5C, 0x28, 0x29):
            run = _PLAIN_RUN_RE.match(data, i)
            out.append(run.group().decode("latin-1"))
            i = run.end()
            continue
        if c == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            e = data[i]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                i += 1
            elif 0x30 <= e <= 0x37:  # octal \ddd (1-3 digits)
                digits = chr(e)
                i += 1
                while i < n and len(digits) < 3 and 0x30 <= data[i] <= 0x37:
                    digits += chr(data[i])
                    i += 1
                out.append(chr(int(digits, 8) & 0xFF))
            elif e in (0x0A, 0x0D):  # line continuation
                i += 1
                if e == 0x0D and i < n and data[i] == 0x0A:
                    i += 1
            else:
                out.append(chr(e))
                i += 1
        elif c == 0x28:  # (
            depth += 1
            out.append("(")
            i += 1
        elif c == 0x29:  # )
            depth -= 1
            if depth > 0:
                out.append(")")
            i += 1
        else:
            out.append(chr(c))
            i += 1
    return "".join(out), i


def _parse_hex_string(data: bytes, i: int) -> Tuple[str, int]:
    end = data.find(b">", i + 1)
    if end == -1:
        return "", len(data)
    hexdigits = re.sub(rb"\s", b"", data[i + 1 : end])
    if len(hexdigits) % 2:
        hexdigits += b"0"
    try:
        raw = bytes.fromhex(hexdigits.decode("ascii"))
    except ValueError:
        raw = b""
    return raw.decode("latin-1"), end + 1


# One content-stream token after optional whitespace. Groups, as
# m.lastindex: 1 a literal string with no escape or nested paren (its
# body), 2 any other literal string, 3 a dictionary, 4 a hex string,
# 5 an array, 6 a name, 7 a number, 8 an operator. A comment or any
# other byte matches with no group and is skipped.
_NUM = rb"[+-]?(?:\d+\.?\d*|\.\d+)"
_TOKEN_RE = re.compile(
    rb"[ \t\r\n\x00]*(?:\(([^\\()]*)\)|(\()|(<<)|(<)|(\[)"
    rb"|(/[^\s()<>\[\]{}/%]*)|(" + _NUM + rb")|([A-Za-z'\"*]+)|%[^\n]*\n?|.)",
    re.S,
)
# One array element: 1 the closing ']' or the end of input, 2-4 as
# groups 1, 2 and 4 of _TOKEN_RE, 5 a number. Any other byte is skipped.
_ARRAY_ITEM_RE = re.compile(
    rb"[ \t\r\n\x00]*(?:(\]|\Z)|\(([^\\()]*)\)|(\()|(<)|(" + _NUM + rb")|.)", re.S
)
_DICT_DELIM_RE = re.compile(rb"<<|>>")

# A whole common command at once, tried while the operand stack is
# empty: ``(lit) Tj`` (group 1, a literal as group 1 of _TOKEN_RE),
# ``x y Td|TD`` (2-4), ``a b c d e f Tm`` (5-10) or ``T*`` (no group).
# Numbers are atomic, so they keep the token loop's maximal munch
# (``12 Td`` is one operand), and the operator must end where the
# token loop's operator token would. Anything else, a comment between
# tokens included, is left to the token loop.
_WS = rb"[ \t\r\n\x00]*"
_ANUM = rb"(?>" + _NUM + rb")"
_FUSED_RE = re.compile(
    _WS + rb"(?:\(([^\\()]*)\)" + _WS + rb"Tj"
    rb"|(" + _ANUM + rb")" + _WS + rb"(" + _ANUM + rb")" + _WS + rb"(T[dD])"
    rb"|T\*"
    rb"|" + (rb"(" + _ANUM + rb")" + _WS) * 6 + rb"Tm"
    rb")(?![A-Za-z'\"*])",
    re.S,
)


def _skip_dict(data: bytes, i: int) -> int:
    """Index just past the ``>>`` closing a ``<<`` dictionary whose body
    starts at ``i`` (nested dictionaries included), or the end."""
    depth = 1
    while depth:
        m = _DICT_DELIM_RE.search(data, i)
        if m is None:
            return len(data)
        depth += 1 if m[0] == b"<<" else -1
        i = m.end()
    return i


def _extract_runs(stream: bytes) -> List[Tuple[float, float, str]]:
    """Text runs (x, y, text) from one content stream.

    Operands go on a stack as (kind, value) pairs, kind being 'str',
    'num', 'arr' or 'name'; every operator reads the stack and clears it.
    """
    runs: List[Tuple[float, float, str]] = []
    stack: List = []
    push = stack.append
    # Text line matrix origin (tx, ty) — full matrix not needed for the
    # translate/scale-free transforms the corpus profile uses.
    lx = ly = 0.0
    cx = cy = 0.0
    leading = 0.0
    in_text = False
    token = _TOKEN_RE.match
    fused = _FUSED_RE.match
    i = 0

    while True:
        if not stack:
            f = fused(stream, i)
            if f is not None:
                i = f.end()
                k = f.lastindex
                if k == 1:
                    if in_text:
                        runs.append((cx, cy, f[1].decode("latin-1")))
                elif k == 4:
                    ty = float(f[3])
                    lx += float(f[2])
                    ly += ty
                    cx, cy = lx, ly
                    if f[4] == b"TD":
                        leading = -ty
                elif k is None:  # T*
                    ly -= leading
                    cx, cy = lx, ly
                else:  # Tm
                    lx = float(f[9])
                    ly = float(f[10])
                    cx, cy = lx, ly
                continue
        m = token(stream, i)
        if m is None:
            break
        i = m.end()
        kind = m.lastindex
        if kind == 8:
            op = m[8]
            if op == b"Tj":
                if in_text and stack and stack[-1][0] == "str":
                    runs.append((cx, cy, stack[-1][1]))
            elif op == b"Td" or op == b"TD":
                ty = stack[-1][1] if stack else 0.0
                tx = stack[-2][1] if len(stack) > 1 else 0.0
                lx += tx
                ly += ty
                cx, cy = lx, ly
                if op == b"TD":
                    leading = -ty
            elif op == b"T*":
                ly -= leading
                cx, cy = lx, ly
            elif op == b"Tm":
                if len(stack) >= 2:
                    ly = stack[-1][1]
                    lx = stack[-2][1]
                cx, cy = lx, ly
            elif op == b"TJ":
                if in_text and stack and stack[-1][0] == "arr":
                    text = "".join(v for k, v in stack[-1][1] if k == "str")
                    if text:
                        runs.append((cx, cy, text))
            elif op == b"BT":
                in_text = True
                lx = ly = cx = cy = 0.0
            elif op == b"ET":
                in_text = False
            elif op == b"TL":
                leading = stack[-1][1] if stack else 0.0
            elif op == b"'" or op == b'"':
                ly -= leading
                cx, cy = lx, ly
                if in_text and stack and stack[-1][0] == "str":
                    runs.append((cx, cy, stack[-1][1]))
            stack.clear()
        elif kind == 7:
            push(("num", float(m[7])))
        elif kind == 1:
            push(("str", m[1].decode("latin-1")))
        elif kind == 5:
            arr: List = []
            while True:
                item = _ARRAY_ITEM_RE.match(stream, i)
                i = item.end()
                k = item.lastindex
                if k == 1:
                    break
                if k == 2:
                    arr.append(("str", item[2].decode("latin-1")))
                elif k == 3:
                    s, i = _parse_literal_string(stream, item.start(3))
                    arr.append(("str", s))
                elif k == 4:
                    s, i = _parse_hex_string(stream, item.start(4))
                    arr.append(("str", s))
                elif k == 5:
                    arr.append(("num", float(item[5])))
            push(("arr", arr))
        elif kind == 6:
            push(("name", m[6].decode("latin-1")))
        elif kind == 2:
            s, i = _parse_literal_string(stream, m.start(2))
            push(("str", s))
        elif kind == 4:
            s, i = _parse_hex_string(stream, m.start(4))
            push(("str", s))
        elif kind == 3:
            i = _skip_dict(stream, i)
    return runs


def _runs_to_text(runs: List[Tuple[float, float, str]]) -> str:
    """Cluster runs into lines by y (tolerance), sort lines top-down and
    runs left-to-right, join runs with '' and lines with '\\n'.

    A run joins the first-made line within ``_LINE_Y_TOLERANCE`` of its
    y, else makes a new one. So line ys differ pairwise by more than
    the tolerance: a line at exactly y is the only match, and a unit
    interval ``[k, k + 1)`` holds at most two lines. The tolerance (0.5)
    is under one unit, so any other match lies in the unit intervals at
    and next to y's. A non-finite y never
    matches (its difference to anything is inf or nan), so it makes a
    line of its own and is not indexed.
    """
    if not runs:
        return ""
    lines: List[Tuple[float, List[Tuple[float, str]]]] = []
    line_of: Dict[float, int] = {}  # finite line y -> index in lines
    units: Dict[float, List[int]] = {}  # floor(y) -> indices of its lines
    for x, y, text in runs:
        idx = line_of.get(y)
        if idx is None and isfinite(y):
            unit = y // 1.0
            for k in (unit - 1.0, unit, unit + 1.0):
                for j in units.get(k, ()):
                    if abs(lines[j][0] - y) <= _LINE_Y_TOLERANCE and (idx is None or j < idx):
                        idx = j
            if idx is None:
                line_of[y] = len(lines)
                units.setdefault(unit, []).append(len(lines))
        if idx is None:
            lines.append((y, [(x, text)]))
        else:
            lines[idx][1].append((x, text))
    lines.sort(key=lambda item: -item[0])
    out_lines = []
    for _, items in lines:
        items.sort(key=lambda it: it[0])
        out_lines.append("".join(text for _, text in items))
    return "\n".join(out_lines)


def pdf_extract_pages(pdf: bytes) -> List[str]:
    """Per-page extracted text, in document page order."""
    objects = _scan_objects(pdf)
    budget = MAX_INFLATED_BYTES
    pages = []
    for page_num in _page_order(objects):
        body, _ = objects[page_num]
        runs: List[Tuple[float, float, str]] = []
        streams, budget = _content_streams(body, objects, budget)
        for stream in streams:
            runs.extend(_extract_runs(stream))
        pages.append(_runs_to_text(runs))
    return pages


def pdf_assemble(pages: List[str]) -> Extracted:
    """Assemble per-page texts into a document: non-empty pages joined
    with '\\n\\n' (assembly rule A1, reference
    core/task_manager.py:542), with one span per non-empty page."""
    text = "\n\n".join([p for p in pages if p])
    return Extracted(
        text,
        lambda: [(i, "page", p) for i, p in enumerate(pages, 1) if p],
        lambda: {
            "n_pages": len(pages),
            "n_empty_pages": sum(1 for p in pages if not p),
            "chars_out": len(text),
        },
    )


def pdf_extract(pdf: bytes) -> Extracted:
    """Extract a PDF document: :func:`pdf_extract_pages` then
    :func:`pdf_assemble`."""
    return pdf_assemble(pdf_extract_pages(pdf))
