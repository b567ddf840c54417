"""Incremental gold maintenance: update aggregate tables from an
append-only sync delta instead of recomputing over all of silver.

Validity: the sync frontier only APPENDS rows (ids past the watermark,
foia/sync.py), so decomposable aggregates — counts, sums, their derived
averages, and min/max watermarks — merge exactly: new = old ⊕ delta.
Whenever a sync also patches EXISTING rows (corrections edits, upsert
updates), incremental maintenance would need retractions; the pipeline
falls back to a full rebuild in that case (MedallionPipeline.rebuild).

At 100 TB this is the difference between scanning the delta (thousands
of rows/day) and scanning the corpus per sync.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# (column, merge) for agency_stats: all partials are sums/counts
_ADDITIVE = [
    "requests",
    "requests_30d",
    "requests_90d",
    "requests_365d",
    "responded",
    "response_days_sum",
    "responded_365d",
    "response_days_sum_365d",
]


def merge_agency_stats(
    old: DataFrame,
    delta: DataFrame,
    old_as_of: str | None = None,
    delta_as_of: str | None = None,
) -> DataFrame:
    """Merge two agency_stats tables (full outer on slug): additive
    partials sum; averages recompute from the merged (sum, count) pairs;
    resolution maps merge key-wise.

    PRECONDITION — same anchor: the windowed partials (requests_30d/90d/
    365d, responded_365d, response_days_sum_365d) are counts relative to
    the ``today`` each side was computed with. They merge exactly ONLY
    when both sides share that anchor (i.e. within one sync run). Merging
    stats computed on different days would freeze rows inside windows
    they have aged out of — pass the anchors to make the check explicit.
    Cross-day maintenance re-derives the windowed columns from silver
    (they cover a bounded recent slice) and merges only the lifetime
    counters incrementally."""
    if (
        old_as_of is not None
        and delta_as_of is not None
        and old_as_of != delta_as_of
    ):
        raise ValueError(
            f"windowed partials anchored to different days "
            f"({old_as_of} vs {delta_as_of}) cannot be merged — recompute "
            "the windowed columns from silver instead"
        )
    o = old.select(
        "agency_slug",
        "agency_canonical",
        *[F.col(c).alias(f"o_{c}") for c in _ADDITIVE],
        F.col("resolutions").alias("o_res"),
    )
    d = delta.select(
        "agency_slug",
        F.col("agency_canonical").alias("d_canonical"),
        *[F.col(c).alias(f"d_{c}") for c in _ADDITIVE],
        F.col("resolutions").alias("d_res"),
    )
    j = o.join(d, "agency_slug", "full_outer")

    def add(c: str):
        return (
            F.coalesce(F.col(f"o_{c}"), F.lit(0)) + F.coalesce(F.col(f"d_{c}"), F.lit(0))
        ).alias(c)

    merged_res = F.when(
        F.col("o_res").isNull(), F.col("d_res")
    ).when(
        F.col("d_res").isNull(), F.col("o_res")
    ).otherwise(
        # key-wise sum over the union of keys
        F.map_from_entries(
            F.transform(
                F.array_distinct(
                    F.concat(F.map_keys("o_res"), F.map_keys("d_res"))
                ),
                lambda k: F.struct(
                    k.alias("key"),
                    (
                        F.coalesce(F.element_at(F.col("o_res"), k), F.lit(0))
                        + F.coalesce(F.element_at(F.col("d_res"), k), F.lit(0))
                    ).alias("value"),
                ),
            )
        )
    )

    out = j.select(
        "agency_slug",
        F.coalesce("agency_canonical", "d_canonical").alias("agency_canonical"),
        *[add(c) for c in _ADDITIVE],
        merged_res.alias("resolutions"),
    )
    return out.withColumn(
        "avg_response_days",
        F.when(
            F.col("responded") > 0,
            F.col("response_days_sum").cast("double") / F.col("responded"),
        ),
    ).withColumn(
        "avg_response_days_365d",
        F.when(
            F.col("responded_365d") > 0,
            F.col("response_days_sum_365d").cast("double") / F.col("responded_365d"),
        ),
    )


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
