"""Timeline operators: dense date-spine gap fill and pivoted daily counts.

Reference semantics: agencyResolutionTimeline (agencies.ts:186-263) groups
by completion_date x resolution, buckets resolutions into 5 categories,
then fills every calendar day from start to end with zeros (J5/A10 in
SURVEY §2).

Scale notes: the spine is generated with ``sequence() + explode`` from a
single row — O(days) rows, trivially broadcastable, so the gap-fill join
is a broadcast join against the aggregated (small) side, never a shuffle
of the fact table. The fact-side aggregation is a single partial+final
hash aggregate on day, one conditional count per bucket (one shuffle;
``pivot`` would aggregate on (day, bucket) first and shuffle twice).
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession


def date_spine(spark: SparkSession, start: Column, end: Column) -> DataFrame:
    """One row per calendar day in [start, end], column ``date``.

    ``start``/``end`` are scalar-producing Columns evaluated over a single
    row (pass literals or use spine_from_agg for data-driven bounds)."""
    return (
        spark.range(1)
        .select(F.explode(F.sequence(start, end, F.expr("interval 1 day"))).alias("date"))
        .select(F.col("date").cast("date").alias("date"))
    )


def daily_pivot_timeline(
    df: DataFrame,
    date_col: Column,
    bucket_col: Column,
    buckets: Sequence[str],
    spine: DataFrame,
) -> DataFrame:
    """Per-day counts pivoted into one column per bucket, zero-filled over
    the spine. One conditional count per bucket of the fixed ``buckets``
    list: one aggregation, one shuffle, and a pinned output schema."""
    agg = (
        df.select(date_col.cast("date").alias("date"), bucket_col.alias("bucket"))
        .where(F.col("date").isNotNull())
        .groupBy("date")
        .agg(*[F.count(F.when(F.col("bucket") == b, 1)).alias(b) for b in buckets])
    )
    out = spine.join(F.broadcast(agg), "date", "left")
    return out.select(
        "date",
        *[F.coalesce(F.col(b), F.lit(0)).cast("long").alias(b) for b in buckets],
    )


def window_totals(timeline: DataFrame, buckets: Sequence[str]) -> DataFrame:
    """Per-bucket totals + share-of-total percentage over a timeline slice
    (reference [slug].astro:43-78; pct at :190)."""
    totals = timeline.agg(
        *[F.sum(b).cast("long").alias(b) for b in buckets]
    ).withColumn("total", sum(F.col(b) for b in buckets).cast("long"))
    pcts = [
        F.when(
            F.col("total") > 0, F.col(b).cast("double") / F.col("total").cast("double")
        ).otherwise(F.lit(0.0)).alias(f"{b}_pct")
        for b in buckets
    ]
    return totals.select("total", *[F.col(b) for b in buckets], *pcts)
