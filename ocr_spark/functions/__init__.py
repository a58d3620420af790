"""Column-expression helpers — JVM-side, codegen'd, no Python on the
hot path. These replace the reference's imperative admission/routing
code (main.py:3196-3214, 3284-3302) with Catalyst expressions."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Admission limits — the reference's configured defaults
# (main.py:72-74): images 50 MB, PDFs 200 MB, 500 pages.
MAX_HTML_BYTES = 50 * 1024 * 1024
MAX_PDF_BYTES = 200 * 1024 * 1024
MAX_PDF_PAGES = 500


def payload_kind(html_col: str = "html") -> Column:
    """Magic-byte payload sniffing as a pure column expression:
    'pdf' | 'html' | 'unknown'. Mirrors textops.sniff_kind so the
    columnar router and the Python oracle agree."""
    head = F.regexp_replace(
        F.substring(F.col(html_col), 1, 1024).cast("string"), r"^\s+", ""
    )
    low = F.lower(F.substring(head, 1, 256))
    return (
        F.when(head.startswith("%PDF-"), F.lit("pdf"))
        .when(
            low.startswith("<!doctype")
            | low.startswith("<html")
            | low.contains("<html")
            | low.startswith("<"),
            F.lit("html"),
        )
        .otherwise(F.lit("unknown"))
    )


def reject_reason(kind_col: str = "kind", html_col: str = "html") -> Column:
    """Admission rule (reference F1 size caps, F3 unknown type): NULL
    for an admitted row, else the reject reason. ``admit`` keeps the
    NULL rows and ``sources.sinks.quarantine_rejects`` the rest.
    Page-count capping (F2) needs a parse, so it lives inside the
    extraction UDF; this expression is pushable to the scan. The
    optimizer inlines ``kind`` into each branch, so pdf goes first: a
    PDF row is sniffed once, any other row twice."""
    size, kind = F.length(F.col(html_col)), F.col(kind_col)
    return (
        F.when(kind == "pdf", F.when(size > MAX_PDF_BYTES, F.lit("pdf too large")))
        .when(kind == "html", F.when(size > MAX_HTML_BYTES, F.lit("html too large")))
        .otherwise(F.lit("unsupported payload type"))
    )


def url_bucket(n_buckets: int, url_col: str = "url") -> Column:
    """Stable url-hash bucket — the unit of lineage/resume granularity
    and of output layout. Full-url hashing (not host) defuses
    host-level skew per the north rule."""
    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int")

