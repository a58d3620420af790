from .bucketed import colocated_join, save_bucketed  # noqa: F401
from .width import spread_cpu  # noqa: F401
from .lineage import (  # noqa: F401
    LINEAGE_SCHEMA,
    audit_buckets,
    lineage_rows,
    pending_after_resume,
    run_pipeline,
)
