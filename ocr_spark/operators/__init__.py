from .extract import (  # noqa: F401
    EXTRACT_SCHEMA,
    PAGES_SCHEMA,
    SPANS_SCHEMA,
    assemble_documents,
    extract_documents,
    extract_pages,
    extract_spans,
)
