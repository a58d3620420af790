"""Pure-Python deterministic text semantics (no Spark imports).

This module is the single source of truth for every byte-level decision
the engine makes.  The same functions run (a) in the pure-Python oracle
used by the tests and (b) inside the Arrow-batched pandas UDFs on the
executors, so byte-identity between oracle and cluster output holds by
construction; the tests then assert the *extractors* reproduce the
generator's ground-truth text, which is the real correctness contract.

Reference parity (semantics lifted from /root/reference, not code):
  - parse_model_response  <- core/page_processor.py:1088-1155 (primary +
    fallback parse), identical logic also at core/task_manager.py:41-65.
  - join_content_blocks   <- core/task_manager.py:1946-1959 (multi-block
    API content joining).
  - legacy_delimiter_parse<- main.py:649-656 (the oldest parse variant).
  - assemble_pages        <- core/task_manager.py:514-546 (ORDER BY
    page_number, moderation filter, empty filter, '\n\n'.join).
  - page_stats            <- main.py:3741-3787 (_calculate_page_statistics).

The moderation-blocked sentinel string is the exact error message the
reference writes for blocked pages (task_manager.py:527).
"""

from __future__ import annotations

import hashlib
import json
from typing import Any, Iterable, Mapping, Optional, Sequence

MODERATION_BLOCKED_MESSAGE = "内容道德审查未通过"

# Markers honoured by the reference's fallback parser
# (core/page_processor.py:1119,1125,1135).
_POSSIBLE_MARKERS = [
    "This is the content:",
    "this is the content:",
    "Content:",
    "content:",
    "OCR result:",
    "Recognized text:",
    "Text:",
    "text:",
    "Result:",
    "result:",
    "Output:",
    "output:",
]
_END_MARKERS = ["this is the end of the content", "end of content", "End"]
_SKIP_PATTERNS = [
    "I'm sorry",
    "I cannot",
    "As an AI",
    "Here is",
    "The content",
    "I understand",
    "I can see",
]


def parse_with_mode(content: Optional[str]) -> tuple:
    """``(mode, text)`` where mode is ``'empty' | 'json' | 'fallback'``
    — the reference's M5 response-validation branch surfaced as data
    (page_processor.py:1096-1113 decides exactly this before using a
    response). ``'json'`` only when a well-formed JSON payload carried
    a usable content/text field; malformed or field-less JSON falls
    through to the fallback parser like the reference does.
    """
    if not content:
        return "empty", ""

    cleaned = content.strip()

    if cleaned.startswith("```") and cleaned.endswith("```"):
        cleaned = cleaned.strip("`")
        if cleaned.lower().startswith("json"):
            cleaned = cleaned[4:]
        cleaned = cleaned.strip()

    try:
        data = json.loads(cleaned)
        if isinstance(data, dict):
            text_value = data.get("content") or data.get("text")
            if isinstance(text_value, str) and text_value.strip():
                return "json", text_value.strip()
        elif isinstance(data, str) and data.strip():
            return "json", data.strip()
    except json.JSONDecodeError:
        pass

    return "fallback", _parse_response_fallback(cleaned)


def parse_model_response(content: Optional[str]) -> str:
    """Parse a model response into clean text, preferring JSON payloads.

    Byte-identical to the reference's primary parser
    (core/page_processor.py:1088-1113): strip; un-fence ``` blocks
    (strip *all* backticks from both ends, then drop a leading
    case-insensitive ``json``); try ``json.loads`` and take the
    ``content`` or ``text`` field; otherwise fall back to marker /
    line-filter parsing.
    """
    return parse_with_mode(content)[1]


def _parse_response_fallback(content: str) -> str:
    """Marker / line-filter fallback (core/page_processor.py:1114-1155)."""
    try:
        for marker in _POSSIBLE_MARKERS:
            if marker in content:
                start_index = content.find(marker) + len(marker)
                extracted = content[start_index:].strip()

                for end_marker in _END_MARKERS:
                    if end_marker in extracted:
                        extracted = extracted[: extracted.find(end_marker)].strip()
                        break

                if extracted:
                    return extracted

        lines = [line.strip() for line in content.split("\n") if line.strip()]
        filtered_lines = [
            line for line in lines if not any(pat in line for pat in _SKIP_PATTERNS)
        ]
        fallback_content = "\n".join(filtered_lines).strip()
        if fallback_content:
            return fallback_content

        cleaned = content.replace("```markdown", "").replace("```", "").strip()
        cleaned_lines = [line.strip() for line in cleaned.split("\n") if line.strip()]
        if cleaned_lines:
            return "\n".join(cleaned_lines)

        return ""
    except Exception:
        try:
            return content.replace("```markdown", "").replace("```", "").strip()
        except Exception:
            return ""


def join_content_blocks(content_field: Any) -> Optional[str]:
    """Join multi-block API content into one string.

    Mirrors core/task_manager.py:1946-1959: a list of blocks keeps only
    dicts with ``type`` in {text, output_text} and a string ``text``,
    joined with ``''``; an empty selection yields ``None``; a plain
    string passes through; anything else yields ``None``.
    """
    if isinstance(content_field, list):
        text_parts = []
        for block in content_field:
            if not isinstance(block, dict):
                continue
            block_type = block.get("type")
            if block_type in ("text", "output_text") and isinstance(
                block.get("text"), str
            ):
                text_parts.append(block["text"])
        return "".join(text_parts) if text_parts else None
    if isinstance(content_field, str):
        return content_field
    return None


def legacy_delimiter_parse(result: Optional[str]) -> Optional[str]:
    """Oldest parse variant (main.py:649-656): cut between
    'This is the content:' and 'this is the end of the content', then
    strip markdown fences.  Returns None when the marker is absent or
    the cut is empty (the reference raises in both cases).
    """
    if not result or "This is the content:" not in result:
        return None
    start_index = result.find("This is the content:") + len("This is the content:")
    end_index = result.find("this is the end of the content")
    if end_index == -1:
        end_index = len(result)
    content = result[start_index:end_index].strip()
    content = content.replace("```markdown", "").replace("```", "").strip()
    return content if content else None


def assemble_pages(pages: Sequence[Mapping[str, Any]]) -> str:
    """Assemble per-page results into one document.

    Reference semantics (core/task_manager.py:514-546): pages arrive
    ordered by page_number ascending (models/database.py:939-943); pages
    with status 'cancelled' and the moderation sentinel error are
    skipped; empty contents are skipped; survivors joined with '\n\n'.

    This function sorts by page_number itself so callers need not
    pre-sort; ties broken by input order (stable sort), matching the
    reference's SQL ORDER BY on a UNIQUE(task_id, page_number) key.
    """
    ordered = sorted(pages, key=lambda p: p.get("page_number") or 0)
    contents = []
    for page in ordered:
        status = page.get("status")
        error_message = page.get("error_message", "") or ""
        content = page.get("content", "") or ""
        if status == "cancelled" and error_message == MODERATION_BLOCKED_MESSAGE:
            continue
        if content:
            contents.append(content)
    return "\n\n".join(contents)


def page_stats(pages: Sequence[Mapping[str, Any]]) -> dict:
    """Per-task page statistics (main.py:3741-3787)."""
    stats = {
        "total_pages": len(pages),
        "completed_pages": 0,
        "failed_pages": 0,
        "pending_pages": 0,
        "processing_pages": 0,
        "average_processing_time": 0,
        "total_content_length": 0,
        "success_rate": 0,
    }
    if not pages:
        return stats

    total_processing_time = 0.0
    processing_time_count = 0
    for page in pages:
        status = page.get("status", "pending")
        if status == "completed":
            stats["completed_pages"] += 1
            stats["total_content_length"] += page.get("content_length", 0)
        elif status == "failed":
            stats["failed_pages"] += 1
        elif status == "processing":
            stats["processing_pages"] += 1
        else:
            stats["pending_pages"] += 1

        processing_time = page.get("processing_time")
        if processing_time:
            total_processing_time += processing_time
            processing_time_count += 1

    if processing_time_count > 0:
        stats["average_processing_time"] = total_processing_time / processing_time_count
    if stats["total_pages"] > 0:
        stats["success_rate"] = (stats["completed_pages"] / stats["total_pages"]) * 100
    return stats


# ---------------------------------------------------------------------------
# Shared normalization + hashing used by generator, extractors and checks.
# ---------------------------------------------------------------------------


def normalize_ws(text: str) -> str:
    """Collapse every whitespace run to a single space and strip.

    The one whitespace rule of the engine (SURVEY.md §7 'hard parts':
    every normalization choice is made once, here).
    """
    return " ".join(text.split())


def sha256_text(text: str) -> str:
    """Hex sha256 of UTF-8 text — the byte-identity audit hash (the
    reference hashes checkpoint payloads the same way,
    core/recovery_manager.py:288-290)."""
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def content_hash_of(hashes: Iterable[str]) -> str:
    """Order-insensitive combined hash over per-url text hashes (sorted
    before hashing, like the reference's sorted-key JSON hashing)."""
    h = hashlib.sha256()
    for item in sorted(hashes):
        h.update(item.encode("ascii"))
        h.update(b"\n")
    return h.hexdigest()


# sniff_kind reads at most this many leading bytes of a payload.
SNIFF_BYTES = 1024


def sniff_kind(payload: Optional[bytes]) -> str:
    """Classify a binary payload: 'pdf' | 'html' | 'unknown'.

    Replaces the reference's content-type routing (main.py:3196-3197,
    3284-3285) with magic-byte sniffing, since the table carries raw
    bytes, not MIME headers.
    """
    if not payload:
        return "unknown"
    head = payload[:SNIFF_BYTES].lstrip()
    if head.startswith(b"%PDF-"):
        return "pdf"
    low = head[:256].lower()
    if low.startswith(b"<") or b"<html" in low:
        return "html"
    return "unknown"
