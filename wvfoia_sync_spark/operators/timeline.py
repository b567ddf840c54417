"""Timeline operators: pivoted daily counts, gap-filled over a date range.

Reference semantics: agencyResolutionTimeline (agencies.ts:186-263) groups
by completion_date x resolution, buckets resolutions into 5 categories,
then fills every calendar day from start to end with zeros (J5/A10 in
SURVEY §2).

Scale notes: the fact side is read once, by a partial+final hash
aggregate on day with one conditional count per bucket (one shuffle;
``pivot`` would aggregate on (day, bucket) first and shuffle twice). A
single global aggregate then folds the per-day rows into a
``date -> counts`` map together with the range bounds, and the dense
range comes from ``explode(sequence(lo, hi))`` on that one row with a map
lookup per day. There is no spine DataFrame and no join: the map holds
one entry per day that has data, the same rows a broadcast gap-fill join
would ship, and over an input already in one partition the whole plan
runs without an Exchange. A map lookup scans the map, so the lookups
cost O(days x days with data); a 20-year all-time range (7,300 days,
each with data) measured 0.49 s end to end, against 0.64 s for the
broadcast-join form (4-vCPU VM, local[4]).
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def daily_pivot_timeline(
    df: DataFrame,
    date_col: Column,
    bucket_col: Column,
    buckets: Sequence[str],
    lo: Column,
    hi: Column,
) -> DataFrame:
    """Per-day counts pivoted into one column per bucket, zero-filled over
    every day in [lo, hi]. One conditional count per bucket of the fixed
    ``buckets`` list, so the output schema is pinned.

    ``lo``/``hi`` are evaluated in the global aggregate over the per-day
    rows: a literal, or an aggregate of their ``date`` column (e.g.
    ``F.min("date")``) for bounds taken from the data. A null bound
    yields no rows; an empty input with literal bounds yields one zero
    row per day."""
    per_day = (
        df.select(date_col.cast("date").alias("date"), bucket_col.alias("bucket"))
        .where(F.col("date").isNotNull())
        .groupBy("date")
        .agg(*[F.count(F.when(F.col("bucket") == b, 1)).alias(b) for b in buckets])
    )
    folded = per_day.agg(
        F.map_from_entries(
            F.collect_list(F.struct("date", F.struct(*buckets).alias("n")))
        ).alias("counts"),
        lo.cast("date").alias("lo"),
        hi.cast("date").alias("hi"),
    )
    days = folded.select(
        "counts", F.explode(F.sequence("lo", "hi")).alias("date")
    )
    return days.select(
        "date",
        *[
            F.coalesce(F.col("counts")[F.col("date")][b], F.lit(0)).cast("long").alias(b)
            for b in buckets
        ],
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
