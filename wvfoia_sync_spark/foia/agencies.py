"""Agency statistics + resolution timeline (reference src/lib/db/agencies.ts).

Reference shape (§3.2): two GROUP-BY queries (13 conditional metrics A7;
per-resolution counts A9), an app-side hash merge on slug (J3), and a
finalize step turning (sum, count) partials into averages (A8). In Spark
the merge is a real join and the partial/final split is the engine's own
HashAggregate — we group ONCE by canonical slug (alias spellings already
merged in silver), so the reference's re-group-by-slug step disappears.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.normalize import resolution_bucket
from ..operators.timeline import daily_pivot_timeline, window_totals
from .schema import EntrySearchOptions, PageCursor
from .queries import Page
from ..operators import relational

# reference AGENCY_SORTERS, agencies.ts:31-36 (lazy: Column construction
# needs an active session, so these are thunks)
AGENCY_SORTERS = {
    "most_requests": lambda: [F.col("requests").desc()],
    "least_requests": lambda: [F.col("requests").asc()],
    "highest_avg_response": lambda: [F.col("avg_response_days").desc_nulls_last()],
    "lowest_avg_response": lambda: [F.col("avg_response_days").asc_nulls_last()],
}


def agency_stats(silver: DataFrame, today: str) -> DataFrame:
    """A7/A8/A9/J3: per-slug metrics joined with per-resolution counts.

    Response-time guard mirrors agencies.ts:58-66: completion non-null AND
    completion >= request (julianday diff >= 0); the future-year guard
    (U11) applies as in home_stats."""
    anchor = F.lit(today).cast("date")
    req, comp = F.col("request_dt"), F.col("completion_dt")
    resp_ok = (
        req.isNotNull()
        & comp.isNotNull()
        & (F.year(comp) <= F.year(anchor))
        & (F.datediff(comp, req) >= 0)
    )
    resp_days = F.when(resp_ok, F.datediff(comp, req))

    def in_win(days: int) -> Column:
        return req >= F.date_sub(anchor, days)

    def avg_when(cond: Column | None) -> Column:
        v = resp_days if cond is None else F.when(cond, resp_days)
        return F.sum(v).cast("double") / F.count(v)

    grouped = silver.groupBy("agency_slug", "agency_canonical")
    metrics = grouped.agg(
        F.count("*").alias("requests"),
        F.count(F.when(in_win(30), 1)).alias("requests_30d"),
        F.count(F.when(in_win(90), 1)).alias("requests_90d"),
        F.count(F.when(in_win(365), 1)).alias("requests_365d"),
        F.count(resp_days).alias("responded"),
        F.sum(resp_days).cast("long").alias("response_days_sum"),
        avg_when(None).alias("avg_response_days"),
        avg_when(in_win(365)).alias("avg_response_days_365d"),
    )
    # A9's per-slug resolution counts folded into a map (the reference's
    # ``resolutions: Record<string, number>``; raw values are mixed-case,
    # so a pivot would collide on Spark's case-insensitive column names)
    resolutions = (
        silver.where(F.col("resolution").isNotNull() & (F.col("resolution") != ""))
        .groupBy("agency_slug", "resolution")
        .agg(F.count("*").alias("c"))
        .groupBy("agency_slug")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("resolution", "c")))
            ).alias("resolutions")
        )
    )
    # J3: merge the metric rows and resolution rows on the slug key
    return metrics.join(resolutions, "agency_slug", "left")


def agencies_page(
    stats: DataFrame,
    term: str | None = None,
    sort: str = "most_requests",
    cursor: PageCursor = PageCursor(),
) -> Page:
    """F9 term filter + O3 sort + O2 pagination over the stats gold table
    (reference agencies.ts:146-179)."""
    df = stats
    if term:
        hay = F.lower(F.concat_ws(" ", "agency_canonical", "agency_slug"))
        for tok in term.lower().split():
            df = df.where(F.instr(hay, tok) > 0)
    # unknown sort falls back to the default like queries.order_by — the
    # sort value is URL input, a KeyError here would 500 the whole page
    sorter = AGENCY_SORTERS.get(sort, AGENCY_SORTERS["most_requests"])
    order = sorter() + [F.col("agency_slug").asc()]
    total = df.count()
    page, total_pages = relational.clamp_page(total, cursor.page, cursor.page_size)
    rows = relational.paginate(df, order, page, cursor.page_size)
    return Page(rows=rows, total=total, total_pages=total_pages, page=page)


def resolution_timeline(
    silver: DataFrame,
    agency_slug: str | None,
    today: str,
    days: int | None = None,
) -> DataFrame:
    """A10/J5 agencyResolutionTimeline (agencies.ts:186-263): bucketed
    completion-date pivot, zero-filled over every day of the range.

    ``days=None`` = all-time (start at MIN completion date, A11)."""
    df = silver
    if agency_slug is not None:
        df = df.where(F.col("agency_slug") == agency_slug)
    hi = F.lit(today).cast("date")
    df = df.where(F.col("completion_dt").isNotNull() & (F.col("completion_dt") <= hi))
    if days is not None:
        lo = F.date_sub(hi, days - 1)
        df = df.where(F.col("completion_dt") >= lo)
    else:
        lo = F.min("date")
    return daily_pivot_timeline(
        df,
        F.col("completion_dt"),
        resolution_bucket("resolution"),
        ["granted", "granted_in_part", "exempted", "rejected", "other"],
        lo,
        hi,
    )


def timeline_window_totals(timeline: DataFrame) -> DataFrame:
    """A12 window totals + share percentages ([slug].astro:43-78)."""
    return window_totals(
        timeline, ["granted", "granted_in_part", "exempted", "rejected", "other"]
    )
