"""Column-expression helpers — JVM-side, codegen'd, no Python on the
hot path — and the admission limits.

The limits replace the reference's imperative admission code
(main.py:3196-3214, 3284-3302). They are applied in one place, the
extraction kernel (``operators.extract._extract``), which sniffs every
payload anyway and rejects a row with its reason; the JVM side only
guards size (``operators.extract.admit``)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Admission limits — the reference's configured defaults
# (main.py:72-74): images 50 MB, PDFs 200 MB, 500 pages.
MAX_HTML_BYTES = 50 * 1024 * 1024
MAX_PDF_BYTES = 200 * 1024 * 1024
MAX_PDF_PAGES = 500


def url_bucket(n_buckets: int, url_col: str = "url") -> Column:
    """Stable url-hash bucket — the unit of lineage/resume granularity
    and of output layout. Full-url hashing (not host) defuses
    host-level skew per the north rule."""
    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int")

