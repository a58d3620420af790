"""Pure-Python HTML main-content extraction (no external parsing libs).

Replaces the reference's per-page vision-model call
(/root/reference/core/page_processor.py:883-989) with deterministic
in-process extraction: a hand-written, regex-stepped HTML tokenizer
builds flat text blocks; each block carries text length, link-text
length, heading flag and a boilerplate-ancestry flag; a text-density /
link-density classifier (Boilerpipe/trafilatura-style) keeps content
blocks, which are joined with '\\n\\n' (the reference's page-assembly
separator, core/task_manager.py:542).

Runs identically in the pytest oracle and inside Arrow-batched pandas
UDFs on executors — determinism and byte-identity are owned end-to-end.
"""

from __future__ import annotations

import html as _htmllib
import re
from functools import cached_property
from typing import Callable, List

# Tags that start/end a text block.
_BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd td th tr table thead tbody
    article section main aside nav header footer form blockquote pre figure
    figcaption details summary hr br title body html""".split()
)

_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# Elements whose entire subtree is never content.
_SKIP_SUBTREE_TAGS = frozenset(
    "script style noscript template textarea svg head iframe object".split()
)

# Structural containers that are boilerplate by role.
_BOILER_CONTAINER_TAGS = frozenset("nav header footer aside form".split())

_VOID_TAGS = frozenset(
    "br hr img meta link input area base col embed source track wbr param".split()
)

# class/id fragments that mark an element (and its subtree) boilerplate.
_BOILER_ATTR_RE = re.compile(
    r"(?:^|[\s_-])(nav|navbar|menu|footer|header|masthead|sidebar|side-bar|"
    r"comment|comments|share|social|banner|breadcrumb|breadcrumbs|cookie|"
    r"copyright|widget|promo|related|advert|advertisement|ads|ad|sponsor|"
    r"pagination|pager|byline|meta|tags|toolbar|dropdown)(?:$|[\s_-])",
    re.IGNORECASE,
)

_TAG_NAME_RE = re.compile(r"[a-zA-Z][a-zA-Z0-9:-]*")
_ATTR_RE = re.compile(
    r"""([a-zA-Z_:][-a-zA-Z0-9_:.]*)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)

# Minimum word count for a non-heading block to count as content, and the
# maximum fraction of a block's characters allowed to sit inside links.
MIN_CONTENT_WORDS = 2
MAX_LINK_DENSITY = 1.0 / 3.0


class Extracted:
    """Extraction result. ``text`` is assembled up front; ``spans`` (one
    per ``(page, kind, text)`` part, located in ``text``) and
    ``metrics`` are built from their callables on first read, so a
    caller that wants only the text pays only for the text."""

    def __init__(
        self, text: str, parts: Callable[[], list], metrics: Callable[[], dict]
    ) -> None:
        self.text = text
        self._parts = parts
        self._metrics = metrics

    @cached_property
    def spans(self) -> List[dict]:
        # parts are joined with '\n\n' (reference assembly rule A1)
        spans = []
        offset = 0
        for page, kind, part in self._parts():
            spans.append({"page": page, "start": offset, "length": len(part), "kind": kind})
            offset += len(part) + 2
        return spans

    @cached_property
    def metrics(self) -> dict:
        return self._metrics()


def _decode(payload: bytes) -> str:
    if isinstance(payload, str):
        return payload
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        return payload.decode("utf-8", errors="replace")


# Context bits an open tag sets for its subtree (the stack restores
# them on close): boilerplate, skipped (never content), heading.
_BOILER, _SKIP, _HEADING = 1, 2, 4

# What tokenize_blocks does at a tag, decided once per distinct raw tag
# slice: open a non-block element, close one, open / close / self-close
# a block element (each ends the open text block), a void or
# unparseable tag (nothing), or a raw-text element (skip to its
# closing tag). The last two leave the stack and the open block alone.
_OPEN, _CLOSE, _OPEN_BLOCK, _CLOSE_BLOCK, _VOID_BLOCK, _VOID, _RAW = range(7)

# Raw-text elements: their content is skipped straight to the closing
# tag, matched ASCII-case-insensitively on the original string.
_RAW_TEXT_CLOSE = {
    tag: re.compile(f"</{tag}[^>]*>?", re.I | re.A)
    for tag in ("script", "style", "textarea")
}

# Tag op memo: raw tag slice -> (op, tag, context bits). Tag markup
# repeats heavily (every <p>, </p>, </a>… is the same string), so each
# distinct slice is parsed once; entries are pure functions of the
# slice, so the cache never changes results. Bounded to keep unique
# attr-bearing tags (hrefs) from growing it without limit.
_TAG_CACHE: dict = {}
_TAG_CACHE_MAX = 100_000
_NOT_A_TAG = (_VOID, "", 0)


def _parse_tag(raw_tag: str) -> tuple:
    closing = raw_tag.startswith("/")
    body = raw_tag[1:] if closing else raw_tag
    m = _TAG_NAME_RE.match(body.strip())
    if not m:
        entry = _NOT_A_TAG
    else:
        tag = m.group(0).lower()
        block = tag in _BLOCK_TAGS
        if closing:
            entry = (_CLOSE_BLOCK if block else _CLOSE, tag, 0)
        elif tag in _RAW_TEXT_CLOSE:
            entry = (_RAW, tag, 0)
        elif body.rstrip().endswith("/") or tag in _VOID_TAGS:
            entry = (_VOID_BLOCK if block else _VOID, tag, 0)
        else:
            bits = 0
            if tag in _BOILER_CONTAINER_TAGS:
                bits = _BOILER
            elif "class" in body or "id" in body:
                for attr_m in _ATTR_RE.finditer(body, m.end()):
                    name = attr_m.group(1).lower()
                    if name in ("class", "id", "role"):
                        value = (attr_m.group(2) or "").strip("\"'")
                        if value and _BOILER_ATTR_RE.search(value):
                            bits = _BOILER
                            break
            if tag in _SKIP_SUBTREE_TAGS:
                bits |= _SKIP
            if tag in _HEADING_TAGS:
                bits |= _HEADING
            entry = (_OPEN_BLOCK if block else _OPEN, tag, bits)
    if len(_TAG_CACHE) >= _TAG_CACHE_MAX:
        _TAG_CACHE.clear()
    _TAG_CACHE[raw_tag] = entry
    return entry


# One tokenizer step: the text run up to the next '<' (group 1), then a
# comment or declaration / processing instruction, skipped to its end
# or to the end of input (group 2), or a tag up to the first '>'
# (group 3). Neither matching means the input ends, or ends in a '<'
# that never closes.
_STEP_RE = re.compile(
    r"([^<]*)(?:<(?:(!--.*?(?:-->|\Z)|[!?][^>]*>?)|([^>]*)>))?", re.S
)

# The end of input acts as a self-closing block tag: it flushes the
# last block.
_END_OF_INPUT = (_VOID_BLOCK, "", 0)


def tokenize_blocks(html_text: str) -> List[tuple]:
    """Single forward scan over the markup producing flat text blocks,
    each a ``(text, tag, chars, link_chars, words, heading, boiler)``
    tuple.

    Text runs accumulate into the open block; a block tag (or the end
    of input) flushes them into a block and resets the heading/boiler
    context, which an opening block tag then sets anew.
    """
    blocks: List[tuple] = []
    parts: List[str] = []
    chars = link_chars = 0
    block_tag, block_bits = "p", 0
    link_depth = 0
    ctx = 0  # context bits of the innermost open element
    # (tag, ctx before it) per open element; closing a tag restores ctx.
    stack: List[tuple] = []
    push = stack.append
    # Times each tag is on the stack, kept from the first close that
    # does not match the top: a close of a tag that is not open then
    # costs O(1), not a scan of the stack. Well-nested markup never
    # pays for it.
    opened = None
    cache_get = _TAG_CACHE.get
    unescape = _htmllib.unescape
    OPEN, CLOSE, OPEN_BLOCK, VOID_BLOCK, VOID, RAW = (
        _OPEN, _CLOSE, _OPEN_BLOCK, _VOID_BLOCK, _VOID, _RAW
    )
    BOILER, SKIP, HEADING = _BOILER, _SKIP, _HEADING
    # Each step starts where the last ended; after an empty step (the
    # end of input, or a '<' that never closes) the scanner returns None.
    step = _STEP_RE.scanner(html_text).match

    while True:
        m = step()
        if m is None:
            break
        text, comment, raw_tag = m.groups()
        if text and not ctx & SKIP:
            if "&" in text:
                text = unescape(text)
            if text:  # unescape can empty a run ("&#1;")
                parts.append(text)
                stripped_len = len(text.strip())
                chars += stripped_len
                if link_depth:
                    link_chars += stripped_len
                block_bits |= ctx & BOILER
        if raw_tag is not None:
            op, tag, bits = cache_get(raw_tag) or _parse_tag(raw_tag)
        elif comment is not None:  # comment or declaration
            continue
        else:
            op, tag, bits = _END_OF_INPUT

        if op == OPEN:
            if tag == "a":
                link_depth += 1
            push((tag, ctx))
            if opened is not None:
                opened[tag] = opened.get(tag, 0) + 1
            ctx |= bits
            continue
        if op >= VOID:
            if op == RAW:
                close = _RAW_TEXT_CLOSE[tag].search(html_text, m.end())
                step = _STEP_RE.scanner(
                    html_text, close.end() if close else len(html_text)
                ).match
            continue
        if op != CLOSE:  # a block tag: the open block ends here
            if parts:
                if chars:  # else every part is whitespace: no words
                    words = "".join(parts).split()
                    blocks.append((
                        " ".join(words), block_tag, chars, link_chars, len(words),
                        block_bits & HEADING != 0, block_bits & BOILER != 0,
                    ))
                parts = []
                chars = link_chars = 0
            if op == OPEN_BLOCK:
                block_tag = tag
                block_bits = bits | ctx
                push((tag, ctx))
                if opened is not None:
                    opened[tag] = opened.get(tag, 0) + 1
                ctx |= bits
                continue
            block_bits = 0
            if op == VOID_BLOCK:
                continue

        # _CLOSE or _CLOSE_BLOCK: unwind to the nearest open tag of
        # that name, if any.
        if tag == "a" and link_depth:
            link_depth -= 1
        if stack and stack[-1][0] == tag:
            ctx = stack.pop()[1]
            if opened is not None:
                opened[tag] -= 1
            continue
        if opened is None:
            opened = {}
            for top, _ in stack:
                opened[top] = opened.get(top, 0) + 1
        if opened.get(tag):
            while True:
                top, top_ctx = stack.pop()
                opened[top] -= 1
                if top == tag:
                    ctx = top_ctx
                    break

    return blocks


def classify(blocks: List[tuple]) -> List[tuple]:
    """Keep content blocks: not boilerplate-rooted, not the title, link
    density at most 1/3, and either a heading or at least
    MIN_CONTENT_WORDS words."""
    return [
        b for b in blocks
        if not b[6] and b[1] != "title"
        and not (b[2] and b[3] / b[2] > MAX_LINK_DENSITY)
        and (b[5] or b[4] >= MIN_CONTENT_WORDS)
    ]


def html_extract(payload: bytes) -> Extracted:
    """Extract main content from an HTML payload.

    Returns text = content blocks joined with '\\n\\n' (reference
    assembly rule A1); spans locating each block in the text and
    extraction metrics are built when read.
    """
    blocks = tokenize_blocks(_decode(payload))
    content = classify(blocks)
    text = "\n\n".join([b[0] for b in content])
    return Extracted(
        text,
        lambda: [(1, "heading" if b[5] else "text", b[0]) for b in content],
        lambda: {
            "n_blocks": len(blocks),
            "n_content_blocks": len(content),
            "n_boiler_blocks": sum(1 for b in blocks if b[6]),
            "chars_out": len(text),
        },
    )
