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

Build notes: the aggregates, the fold, the gap-fill lookups, the totals
and the percentages are written as SQL expression strings (``F.expr`` /
``selectExpr``, bucket names back-quoted), not as Column trees. The plan
is the same, but each Column call is a py4j round trip, and a timeline
over five buckets built from Columns made about 100 of them per request,
which cost more than running the resulting one-job plan over a resident
generation. An expression string is parsed in the JVM in one call.
Only the caller's own Columns (the date, the bucket and the bounds) are
Column objects.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def _ident(name: str) -> str:
    """``name`` as a back-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _str(value: str) -> str:
    """``value`` as a SQL string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


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
    names = [_ident(b) for b in buckets]
    per_day = (
        df.select(date_col.cast("date").alias("date"), bucket_col.alias("bucket"))
        .where("`date` IS NOT NULL")
        .groupBy("date")
        .agg(
            *[
                F.expr(f"count(CASE WHEN bucket = {_str(b)} THEN 1 END) AS {n}")
                for b, n in zip(buckets, names)
            ]
        )
    )
    folded = per_day.select(
        F.expr(
            "map_from_entries(collect_list(struct(`date`, struct("
            + ", ".join(names)
            + ") AS n))) AS counts"
        ),
        lo.cast("date").alias("lo"),
        hi.cast("date").alias("hi"),
    )
    return folded.selectExpr("counts", "explode(sequence(lo, hi)) AS `date`").selectExpr(
        "`date`", *[f"CAST(coalesce(counts[`date`].{n}, 0) AS BIGINT) AS {n}" for n in names]
    )


def window_totals(timeline: DataFrame, buckets: Sequence[str]) -> DataFrame:
    """Per-bucket totals + share-of-total percentage over a timeline slice
    (reference [slug].astro:43-78; pct at :190)."""
    names = [_ident(b) for b in buckets]
    totals = timeline.selectExpr(
        *[f"CAST(sum({n}) AS BIGINT) AS {n}" for n in names]
    ).selectExpr(f"CAST({' + '.join(names)} AS BIGINT) AS total", *names)
    return totals.selectExpr(
        "total",
        *names,
        *[
            f"CASE WHEN total > 0 THEN CAST({n} AS DOUBLE) / CAST(total AS DOUBLE) "
            f"ELSE 0.0 END AS {_ident(b + '_pct')}"
            for b, n in zip(buckets, names)
        ],
    )
