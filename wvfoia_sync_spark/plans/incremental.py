"""Incremental aggregate maintenance: update a partial-aggregate table
from an append-only delta instead of recomputing over the whole input.

Validity: when the delta only APPENDS rows (ids past the watermark, as
foia/sync.py's frontier does), decomposable aggregates (counts, sums,
min/max watermarks) merge exactly: new = old ⊕ delta. Derived ratios are
recomputed from the merged partials. A delta that also patches EXISTING
rows would need retractions, so it takes a full recompute instead.

At 100 TB this is the difference between scanning the delta (thousands
of rows/day) and scanning the corpus per sync.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def merge_partial_stats(
    old: DataFrame,
    delta: DataFrame,
    keys: list[str],
    additive: list[str] = (),
    maxes: list[str] = (),
    mins: list[str] = (),
) -> DataFrame:
    """Generic decomposable-aggregate merge: new = old ⊕ delta for any
    partial-agg table whose columns are sums/counts (additive), maxes, or
    mins. DECIMAL sums merge exactly (addition is associative); derived
    ratios must be recomputed by the caller AFTER the merge, never merged.
    One union + one group-cardinality shuffle — the silver corpus is
    never rescanned."""
    merged = old.unionByName(delta)
    aggs = (
        [F.sum(c).alias(c) for c in additive]
        + [F.max(c).alias(c) for c in maxes]
        + [F.min(c).alias(c) for c in mins]
    )
    return merged.groupBy(*keys).agg(*aggs)
