"""Skew-resistant two-stage aggregation — the salting pattern for
aggregations (the extraction path spreads hot hosts with a full-url
hash repartition; this is the matching defense for groupBy keys).

A crawl's natural keys are Zipf-distributed (a few hosts own most
rows). ``groupBy(host).agg(...)`` then sends every row of the hottest
key to one reducer. The fix is algebraic: aggregate first on
``(key, salt)`` where salt = hash(row) % n_salts — spreading each hot
key over n_salts reducers — then combine the partials per key. Works
for any aggregate with a partial/merge decomposition (count, sum,
min, max; avg via sum+count).

Spark's map-side partial aggregation already does two phases, but its
first phase is per-PARTITION, not per-key-spread: when one key's rows
fill many partitions AND the per-partition distinct-key count is high
(hash agg buffer spills), the reduce side still funnels the hot key
through one task. Explicit salting bounds that reducer's share at
1/n_salts of the hot key regardless of input layout.
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 16

# Aggregates with a (partial, merge) decomposition this helper knows.
_MERGE = {
    "count": F.sum,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
}
_PARTIAL = {
    "count": lambda c: F.count(c),
    "sum": lambda c: F.sum(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
}


def salted_agg(
    df: DataFrame,
    key: str,
    aggs: Dict[str, tuple],
    n_salts: int = DEFAULT_SALTS,
    salt_on: Optional[Column] = None,
) -> DataFrame:
    """groupBy(``key``) with a salted two-stage plan.

    ``aggs`` maps output column name -> (fn, input_col) with fn in
    {'count', 'sum', 'min', 'max'}. ``salt_on`` defaults to a hash of
    the whole row's key column + monotonically varying partition data;
    pass an explicit column (e.g. the row id) for full determinism.

    Result is row-identical to the unsalted groupBy — only the plan
    (two exchanges over spread keys instead of one over hot keys)
    differs.
    """
    for name, (fn, _) in aggs.items():
        if fn not in _MERGE:
            raise ValueError(f"{name}: '{fn}' has no partial/merge decomposition here")
    salt_src = salt_on if salt_on is not None else F.spark_partition_id()
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_src), F.lit(n_salts))
    )
    partial = salted.groupBy(key, "_salt").agg(
        *[
            _PARTIAL[fn](col).alias(f"_p_{name}")
            for name, (fn, col) in aggs.items()
        ]
    )
    final = partial.groupBy(key).agg(
        *[
            _MERGE[fn](f"_p_{name}").alias(name)
            for name, (fn, _) in aggs.items()
        ]
    )
    return final
