"""The extraction operator — the engine's flagship map stage.

Replaces the reference's queue/worker/per-page-HTTP pipeline
(core/page_processor.py:502-626, task_queue.py:546-635) with one
Arrow-batched ``mapInPandas`` over the documents table:

    scan(parquet/iceberg) -> admit: size guard (JVM, no sniff)
      -> balance: coalesce scan splits, an xxhash64(url) repartition,
         or run_pipeline's exchange on the url-hash bucket
      -> mapInPandas(extract_batch)  # the only Python on the hot path
      -> per-doc rows (url, status, text, hash, metrics, partition_id)

Every row goes through one never-raising kernel, :func:`_extract`:
sniff, admission (kind check and per-kind size caps), parse (html or
pdf), apply the F2 page limit, assemble. A payload that fails admission
becomes a (status='rejected', error_message=reason) row, a per-document
failure a (status='failed', error_message) row — the reference's R2
semantics (poison rows never kill the job,
core/error_handler.py:87-193) — instead of task retries or a silent
drop: every input row comes out as one document row.

Three output shapes, each a thin projection of that kernel behind one
plan builder (:func:`_balanced_map`), which ``run_pipeline`` and the
stream build on too:
  * extract_documents: one row per document, text fully assembled
    inside the UDF (pages joined '\\n\\n').
  * extract_pages: one row per page (PDF fan-out, reference X1
    page_processor.py:393-400), for the built-in Spark assembly path
    ``assemble_documents`` (reference A1, task_manager.py:514-546).
  * extract_spans: one row per content block / non-empty page, with
    offsets into the assembled text.
"""

from __future__ import annotations

import time
from functools import partial
from typing import Callable, Iterator, List, Optional

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import MAX_HTML_BYTES, MAX_PDF_BYTES, MAX_PDF_PAGES
from ..html_extract import html_extract
from ..pdf_extract import pdf_assemble, pdf_extract_pages
from ..textops import MODERATION_BLOCKED_MESSAGE, SNIFF_BYTES, sha256_text, sniff_kind

EXTRACT_SCHEMA = (
    "url string, kind string, status string, error_message string, "
    "n_pages int, text string, content_hash string, "
    "bytes_in bigint, chars_out bigint, partition_id int, elapsed_us bigint"
)

PAGES_SCHEMA = (
    "url string, page_number int, status string, error_message string, "
    "content string, content_length bigint, partition_id int"
)

SPANS_SCHEMA = (
    "url string, span_idx int, page int, start bigint, length bigint, "
    "span_kind string, span_text string, partition_id int"
)

# pandas dtypes for the schemas' integer columns; strings stay lists.
_DTYPES = {"int": "int32", "bigint": "int64"}

# The columns admit() ships into the kernel: the payload, cut to
# SNIFF_BYTES when it is over every cap, and its true length.
ADMITTED_COLUMNS = ("url", "html", "bytes_in")

# Admission (reference F1 size caps, F3 unknown type): per sniffed kind,
# its byte cap and the reason a payload over it is rejected with.
_CAPS = {
    "pdf": (MAX_PDF_BYTES, "pdf too large"),
    "html": (MAX_HTML_BYTES, "html too large"),
}


def _extract(
    payload: Optional[bytes],
    max_pages: int = MAX_PDF_PAGES,
    size: Optional[int] = None,
) -> tuple:
    """(kind, status, error, pages, out) for one payload; never raises.

    ``pages`` is the per-page text (one page for HTML); ``out`` is the
    assembled Extracted (text + spans), None unless status is
    'completed'. ``size`` is the payload's true length (``bytes_in``
    from :func:`admit`, which cuts an oversized payload), default
    ``len(payload)``. A payload of unknown kind or over its kind's cap
    is 'rejected' unparsed. A PDF over ``max_pages`` (reference F2,
    main.py:829-832) fails with its pages still counted.
    """
    kind = sniff_kind(payload)
    cap = _CAPS.get(kind)
    if cap is None:
        return kind, "rejected", "unsupported payload type", [], None
    if (len(payload) if size is None else size) > cap[0]:
        return kind, "rejected", cap[1], [], None
    try:
        if kind == "pdf":
            pages = pdf_extract_pages(payload)
            if len(pages) > max_pages:
                return kind, "failed", f"page count {len(pages)} exceeds limit", pages, None
            return kind, "completed", None, pages, pdf_assemble(pages)
        out = html_extract(payload)
        return kind, "completed", None, [out.text], out
    except Exception as exc:  # R2: pdf content budget, wrong-type pdf operands
        return kind, "failed", f"{type(exc).__name__}: {exc}", [], None


def _map_rows(
    batches: Iterator[pd.DataFrame], schema: str, project: Callable
) -> Iterator[pd.DataFrame]:
    """The one Arrow boundary over :data:`ADMITTED_COLUMNS` frames:
    ``project(url, payload, size)`` returns the output rows of one input
    row as tuples in ``schema`` order, minus ``partition_id``, which is
    filled in here."""
    fields = [f.split() for f in schema.split(",")]
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    for frame in batches:
        rows: List[tuple] = []
        for row in zip(
            frame["url"].tolist(), frame["html"].tolist(), frame["bytes_in"].tolist()
        ):
            rows.extend(project(*row))
        cols = zip(*rows)
        data = {}
        for name, typ in fields:
            col = [pid] * len(rows) if name == "partition_id" else list(next(cols, ()))
            data[name] = pd.array(col, dtype=_DTYPES[typ]) if typ in _DTYPES else col
        yield pd.DataFrame(data)


def _document_rows(
    url: str, payload: Optional[bytes], size: int, max_pages: int
) -> List[tuple]:
    t0 = time.monotonic_ns()
    kind, status, error, pages, out = _extract(payload, max_pages, size)
    text = out.text if out is not None else None
    return [(
        url, kind, status, error, len(pages), text,
        sha256_text(text) if text is not None else None,
        size,
        len(text) if text is not None else 0,
        (time.monotonic_ns() - t0) // 1000,
    )]


def _page_rows(url: str, payload: Optional[bytes], size: int) -> List[tuple]:
    _, status, error, pages, _ = _extract(payload, size=size)
    if status != "completed":
        return [(url, 1, status, error, None, 0)]
    return [(url, i, status, None, p, len(p)) for i, p in enumerate(pages, 1)]


def _span_rows(url: str, payload: Optional[bytes], size: int) -> List[tuple]:
    out = _extract(payload, size=size)[4]
    if out is None:
        return []
    return [
        (url, i, sp["page"], sp["start"], sp["length"], sp["kind"],
         out.text[sp["start"] : sp["start"] + sp["length"]])
        for i, sp in enumerate(out.spans)
    ]


def extract_batch(
    batches: Iterator[pd.DataFrame], max_pages: int = MAX_PDF_PAGES
) -> Iterator[pd.DataFrame]:
    """mapInPandas payload over :func:`admit`'s columns: one
    EXTRACT_SCHEMA row per document. Bind a non-default F2 page limit
    with ``functools.partial``."""
    return _map_rows(
        batches, EXTRACT_SCHEMA, partial(_document_rows, max_pages=max_pages)
    )


def extract_pages_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas payload: page-level fan-out (reference X1).

    PDFs emit one row per page; HTML emits a single page-1 row (the
    reference's image tasks are single-page, task_manager.py:500-512).
    Empty pages keep status 'completed' with empty content, exactly the
    rows the assembly filter F8 later drops. A failed or rejected
    document (over the page limit, unparseable, failed admission) emits
    one page-1 row carrying the document's status and error_message.
    """
    return _map_rows(batches, PAGES_SCHEMA, _page_rows)


def extract_spans_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas payload: span-level extraction output — one row per
    content block (HTML) / non-empty page (PDF), carrying byte offsets
    into the assembled document text (the north rule's "extracted
    text/spans"; reference result shape core/page_processor.py:1088+
    returns per-page content the reference UI re-slices client-side —
    here spans are a first-class table).

    ``span_text`` is sliced FROM the assembled text by
    ``text[start : start + length]`` — NOT taken from the block object
    — so the offsets themselves are what any downstream roundtrip
    (and the DuckDB oracle) exercises: a wrong start/length yields a
    wrong slice and a hash mismatch. Failed and rejected docs emit no
    span rows; their status lives in the document-level output (R2).
    """
    return _map_rows(batches, SPANS_SCHEMA, _span_rows)


def admit(df: DataFrame) -> DataFrame:
    """The JVM half of admission: a size guard with no sniff and no
    filter. Adds ``bytes_in``, the payload's true length (0 for null),
    and cuts a payload over MAX_PDF_BYTES, the largest cap, to the
    SNIFF_BYTES that ``sniff_kind`` reads, so a huge payload never
    crosses the Arrow boundary. Every row is kept: :func:`_extract`
    applies the kind check and per-kind caps (reference F1/F3) and
    rejects with a reason. :func:`_balanced_map` passes
    :data:`ADMITTED_COLUMNS` to the UDF."""
    size = F.coalesce(F.length("html"), F.lit(0))
    guarded = F.when(size > MAX_PDF_BYTES, F.substring("html", 1, SNIFF_BYTES))
    # one projection: each withColumn call is analysed on its own
    return df.withColumns({"bytes_in": size, "html": guarded.otherwise(F.col("html"))})


# scan-strategy cap on the task count: coalesce merges scan partitions
# down to at most 4 tasks per core and never splits them, so a table
# with fewer scan partitions than that keeps its own count.
SCAN_OVERSUB = 4


def _balance(
    n_partitions: Optional[int], strategy: str
) -> Callable[[DataFrame], DataFrame]:
    """The balance step of a strategy (described on
    :func:`extract_documents`)."""
    if strategy == "scan":
        return lambda d: d.coalesce(
            n_partitions
            or SCAN_OVERSUB * d.sparkSession.sparkContext.defaultParallelism
        )
    if n_partitions:
        return lambda d: d.repartition(n_partitions, F.xxhash64("url"))
    return lambda d: d.repartition(F.xxhash64("url"))


def _balanced_map(
    df: DataFrame,
    balance: Callable[[DataFrame], DataFrame],
    batch_fn: Callable = extract_batch,
    schema: str = EXTRACT_SCHEMA,
) -> DataFrame:
    """The one extraction plan, which every path builds: admission
    guard -> :data:`ADMITTED_COLUMNS` -> ``balance`` (a strategy's
    step, or ``run_pipeline``'s bucket exchange) -> one mapInPandas."""
    admitted = admit(df).select(*ADMITTED_COLUMNS)
    return balance(admitted).mapInPandas(batch_fn, schema=schema)


def extract_documents(
    df: DataFrame,
    n_partitions: Optional[int] = None,
    max_pages: int = MAX_PDF_PAGES,
    strategy: str = "scan",
) -> DataFrame:
    """Admission guard -> partition-balance -> Arrow-batched extraction;
    one output row per input row, a payload that fails admission as a
    ``status='rejected'`` row with its reason.

    Two balance strategies; pick by input shape:

    * ``strategy='scan'`` (default) — NO payload exchange: scan
      partitions (already byte-balanced by
      ``spark.sql.files.maxPartitionBytes``) are ``coalesce``d (a
      narrow, shuffle-free merge) to at most ``n_partitions`` or
      SCAN_OVERSUB x defaultParallelism tasks; coalesce never splits,
      so fewer scan partitions stay as they are. Extraction runs
      where the bytes already are. Right whenever the source table's
      files are size-balanced — which a crawl table written by any
      sane ingest is. Measured (BASELINE.md round 3): shipping the
      payload through a url-hash exchange cost 23% of the hi-width
      run and capped 8->32 scaling at ~0.52; the scan strategy holds
      ~0.72-0.78 — at 100 TB, shuffling the corpus to fix skew that
      scan-granular splitting already bounds is pure waste.
    * ``strategy='shuffle'`` — url-hash repartition (xxhash64(url))
      before extraction. Right when the INPUT itself is
      pathologically skewed (one giant file per hot host, a single
      unsplittable row group): a full-url hash spreads a hot host's
      rows uniformly, for the price of one full payload shuffle. For
      byte-skewed input (2 KB pages mixed with 100 MB PDFs) pass more
      partitions than cores: per-batch memory is already bounded by
      the Arrow byte cap (session.py), so only task duration needs
      smoothing.

    Output is row-identical under every strategy.
    """
    batch_fn = (
        extract_batch
        if max_pages == MAX_PDF_PAGES
        else partial(extract_batch, max_pages=max_pages)
    )
    return _balanced_map(df, _balance(n_partitions, strategy), batch_fn)


def extract_spans(df: DataFrame, n_partitions: Optional[int] = None) -> DataFrame:
    """Span-level variant of :func:`extract_documents` — same admission
    and the default scan balance, output fan-out is one row per span.
    Scale shape is identical to the document path (the span fan-out
    happens inside the Arrow batch, no extra shuffle)."""
    return _balanced_map(
        df, _balance(n_partitions, "scan"), extract_spans_batch, SPANS_SCHEMA
    )


def extract_pages(
    df: DataFrame, n_partitions: Optional[int] = None
) -> DataFrame:
    """Page-level variant feeding the built-in assembly (A1)."""
    return _balanced_map(
        df, _balance(n_partitions, "shuffle"), extract_pages_batch, PAGES_SCHEMA
    )


def moderation_keep(status_col: Column, error_col: Column) -> Column:
    """Assembly filter F7 (task_manager.py:527-530): drop pages that
    are cancelled with the moderation sentinel; keep everything else."""
    return ~(
        (status_col == F.lit("cancelled"))
        & (F.coalesce(error_col, F.lit("")) == F.lit(MODERATION_BLOCKED_MESSAGE))
    )


def assemble_documents(pages: DataFrame) -> DataFrame:
    """Document assembly with built-in functions only (reference A1).

    ORDER BY page_number inside each url without a global sort:
    sort_array over collected (page_number, content) structs — struct
    ordering is field-by-field, so page_number drives it — then
    concat_ws('\\n\\n'). Filters F7 (moderation) and F8 (empty) applied
    as columnar predicates before the aggregation, so the shuffle only
    carries surviving pages.
    """
    kept = pages.filter(
        moderation_keep(F.col("status"), F.col("error_message"))
    ).filter(F.length(F.coalesce(F.col("content"), F.lit(""))) > 0)
    collected = kept.groupBy("url").agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("page_number", "content"))),
                lambda x: x["content"],
            ),
        ).alias("text"),
        F.count(F.lit(1)).alias("n_pages_kept"),
        F.sum("content_length").alias("chars_out"),
    )
    return collected
