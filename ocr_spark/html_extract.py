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
from dataclasses import dataclass, field
from typing import List, Tuple

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


@dataclass
class Block:
    text: str
    tag: str
    chars: int
    link_chars: int
    words: int
    heading: bool
    boiler: bool

    @property
    def link_density(self) -> float:
        return (self.link_chars / self.chars) if self.chars else 0.0


@dataclass
class Extracted:
    """Extraction result: assembled text + per-block spans + metrics."""

    text: str
    spans: List[dict] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)


def _decode(payload: bytes) -> str:
    if isinstance(payload, str):
        return payload
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        return payload.decode("utf-8", errors="replace")


# Parsed-tag memo: raw tag slice -> (closing, tag, self_closing,
# is_boiler, is_skip, is_block, is_heading). Tag markup repeats heavily
# (every <p>, </p>, </a>… is the same string), so parsing each distinct
# slice once roughly halves tokenizer time; entries are pure functions
# of the slice, so the cache never changes results. Bounded to keep
# unique attr-bearing tags (hrefs) from growing it without limit.
_TAG_CACHE: dict = {}
_TAG_CACHE_MAX = 100_000


def _parse_tag(raw_tag: str):
    closing = raw_tag.startswith("/")
    body = raw_tag[1:] if closing else raw_tag
    m = _TAG_NAME_RE.match(body.strip())
    if not m:
        parsed = None
    else:
        tag = m.group(0).lower()
        self_closing = body.rstrip().endswith("/") or tag in _VOID_TAGS
        attrs_text = body[m.end() :]
        is_boiler = tag in _BOILER_CONTAINER_TAGS
        if not is_boiler and ("class" in attrs_text or "id" in attrs_text):
            for attr_m in _ATTR_RE.finditer(attrs_text):
                name = attr_m.group(1).lower()
                if name in ("class", "id", "role"):
                    value = (attr_m.group(2) or "").strip("\"'")
                    if value and _BOILER_ATTR_RE.search(value):
                        is_boiler = True
                        break
        parsed = (
            closing,
            tag,
            self_closing,
            is_boiler,
            tag in _SKIP_SUBTREE_TAGS,
            tag in _BLOCK_TAGS,
            tag in _HEADING_TAGS,
        )
    if len(_TAG_CACHE) >= _TAG_CACHE_MAX:
        _TAG_CACHE.clear()
    _TAG_CACHE[raw_tag] = parsed
    return parsed


# One tokenizer step: the text run up to the next '<' (group 1), then a
# comment or declaration / processing instruction, skipped to its end
# or to the end of input (group 2), or a tag up to the first '>'
# (group 3). Neither matching means the input ends, or ends in a '<'
# that never closes.
_STEP_RE = re.compile(
    r"([^<]*)(?:<(?:(!--.*?(?:-->|\Z)|[!?][^>]*>?)|([^>]*)>))?", re.S
)

# Raw-text elements: their content is skipped straight to the closing
# tag, matched ASCII-case-insensitively on the original string.
_RAW_TEXT_CLOSE = {
    tag: re.compile(f"</{tag}[^>]*>?", re.I | re.A)
    for tag in ("script", "style", "textarea")
}

# The end of input acts as a closing block tag: it flushes the last
# block, and its empty name matches nothing on the stack.
_END_OF_INPUT = (True, "", False, False, False, True, False)


def tokenize_blocks(html_text: str) -> List[Block]:
    """Single forward scan over the markup producing flat text blocks.

    Text runs accumulate into the open block; a block tag (or the end
    of input) flushes them into a :class:`Block` and resets the
    heading/boiler context, which an opening block tag then sets anew.
    """
    blocks: List[Block] = []
    parts: List[str] = []
    chars = link_chars = 0
    block_tag, block_heading, block_boiler = "p", False, False
    link_depth = 0
    in_skip = in_boiler = in_heading = False
    # (tag, in_boiler, in_skip, in_heading) as they were before each
    # open tag; closing a tag restores them.
    stack: List[tuple] = []
    step = _STEP_RE.match
    cache_get = _TAG_CACHE.get
    unescape = _htmllib.unescape
    n = len(html_text)
    i = 0

    while i <= n:
        m = step(html_text, i)
        text = m[1]
        if text and not in_skip:
            if "&" in text:
                text = unescape(text)
            if text:  # unescape can empty a run ("&#1;")
                parts.append(text)
                stripped_len = len(text.strip())
                chars += stripped_len
                if link_depth:
                    link_chars += stripped_len
                if in_boiler:
                    block_boiler = True
        i = m.end()
        kind = m.lastindex
        if kind == 2:  # comment or declaration
            continue
        if kind == 3:
            raw_tag = m[3]
            parsed = cache_get(raw_tag, False)
            if parsed is False:
                parsed = _parse_tag(raw_tag)
            if parsed is None:
                continue
        else:
            parsed = _END_OF_INPUT
            i = n + 1
        closing, tag, self_closing, is_boiler, is_skip, is_block, is_heading = parsed

        if is_block:
            if parts:
                words = "".join(parts).split()
                if words:
                    blocks.append(
                        Block(
                            " ".join(words),
                            block_tag,
                            chars,
                            link_chars,
                            len(words),
                            block_heading,
                            block_boiler,
                        )
                    )
                parts = []
                chars = link_chars = 0
            if closing or self_closing:
                block_heading = block_boiler = False
            else:
                block_tag = tag
                block_heading = is_heading or in_heading
                block_boiler = is_boiler or in_boiler

        if closing:
            if tag == "a" and link_depth:
                link_depth -= 1
            if stack and stack[-1][0] == tag:
                _, in_boiler, in_skip, in_heading = stack.pop()
            else:
                # Unwind the stack to the nearest matching open tag.
                for idx in range(len(stack) - 2, -1, -1):
                    if stack[idx][0] == tag:
                        _, in_boiler, in_skip, in_heading = stack[idx]
                        del stack[idx:]
                        break
            continue

        if is_skip and tag in _RAW_TEXT_CLOSE:
            close = _RAW_TEXT_CLOSE[tag].search(html_text, i)
            i = close.end() if close else n
            continue
        if self_closing:
            continue
        if tag == "a":
            link_depth += 1
        stack.append((tag, in_boiler, in_skip, in_heading))
        if is_boiler:
            in_boiler = True
        if is_skip:
            in_skip = True
        if is_heading:
            in_heading = True

    return blocks


def classify(blocks: List[Block]) -> List[Block]:
    """Keep content blocks: not boilerplate-rooted, link density below
    1/3, and either a heading or at least MIN_CONTENT_WORDS words."""
    content = []
    for b in blocks:
        if b.boiler or b.tag == "title":
            continue
        if b.link_density > MAX_LINK_DENSITY:
            continue
        if not b.heading and b.words < MIN_CONTENT_WORDS:
            continue
        content.append(b)
    return content


def join_spans(parts: List[Tuple[int, str, str]]) -> Tuple[str, List[dict]]:
    """Join ``(page, kind, text)`` parts with '\\n\\n' (reference
    assembly rule A1); returns the text and one span per part locating
    it there."""
    spans = []
    offset = 0
    for page, kind, part in parts:
        spans.append({"page": page, "start": offset, "length": len(part), "kind": kind})
        offset += len(part) + 2
    return "\n\n".join(part for _, _, part in parts), spans


def html_extract(payload: bytes) -> Extracted:
    """Extract main content from an HTML payload.

    Returns text = content blocks joined with '\\n\\n' (reference
    assembly rule A1), spans locating each block in the output, and
    extraction metrics.
    """
    html_text = _decode(payload)
    blocks = tokenize_blocks(html_text)
    content = classify(blocks)
    text, spans = join_spans(
        [(1, "heading" if b.heading else "text", b.text) for b in content]
    )
    metrics = {
        "n_blocks": len(blocks),
        "n_content_blocks": len(content),
        "n_boiler_blocks": sum(1 for b in blocks if b.boiler),
        "chars_out": len(text),
    }
    return Extracted(text=text, spans=spans, metrics=metrics)
