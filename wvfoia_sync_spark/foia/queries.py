"""Entry-search query surface (reference src/lib/db/entries.ts).

``list_entries`` is the app's core query (§3.1): bindWhere predicates
F1-F5 AND-combined, one of five sorts (O1), count + clamped page (O2).
The filtered DataFrame is built once and shared by the count and the page
fetch; like the reference's two SQL round trips (entries.ts:102-116),
that is two Spark jobs over silver, which the serving pipeline keeps
persisted per sync (plans.medallion). Nothing is cached per request.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.normalize import normalize_token
from ..functions.text import fts_match
from ..operators import relational
from .schema import EntrySearchOptions, PageCursor


def bind_where(opts: EntrySearchOptions, aliases_map: dict[str, str] | None = None) -> Column | None:
    """F1-F5 predicate tree (reference bindWhere, entries.ts:28-63), over
    SILVER columns (dates already corrected — F6 is a silver no-op).

    F1 agency: the silver table carries agency_canonical, so matching the
    canonical of the requested agency subsumes the reference's
    alias-candidate COLLATE NOCASE disjunction (entries.ts:34-40)."""
    preds: list[Column] = []
    if opts.agency:
        target = opts.agency
        if aliases_map:
            target = aliases_map.get(normalize_token(opts.agency), opts.agency)
        preds.append(
            F.lower(F.trim(F.col("agency_canonical"))) == target.strip().lower()
        )
    if opts.resolution:
        preds.append(F.col("resolution").isin(*opts.resolution))
    if opts.date_from:
        preds.append(F.col("request_date") >= opts.date_from)  # ISO string compare
    if opts.date_to:
        preds.append(F.col("request_date") <= opts.date_to)
    if opts.search:
        preds.append(fts_match(F.col("search_tokens"), opts.search))
    if not preds:
        return None
    out = preds[0]
    for p in preds[1:]:
        out = out & p
    return out


def order_by(sort: str) -> list[Column]:
    """O1 sort dispatch (getOrderBy, entries.ts:65-85) with the SURVEY §7
    deterministic id tiebreaker. Null ordering mirrors SQLite (NULL is
    smallest: last under DESC, first under ASC)."""
    if sort == "newest_request":
        return [F.col("request_date").desc_nulls_last(), F.col("id").desc()]
    if sort == "oldest_request":
        return [F.col("request_date").asc_nulls_first(), F.col("id").asc()]
    if sort == "newest_completion":
        return [F.col("completion_date").desc_nulls_last(), F.col("id").desc()]
    if sort == "highest_fee":
        # documented divergence from SQLite CAST(fee AS INTEGER): we sort by
        # the parsed amount (SURVEY §7 decision); nulls last
        return [F.col("fee_amount").desc_nulls_last(), F.col("id").desc()]
    return [F.col("id").desc()]  # newest_entry (default)


def filter_entries(
    silver: DataFrame, opts: EntrySearchOptions, aliases_map: dict[str, str] | None = None
) -> DataFrame:
    """``silver`` under ``bind_where``'s predicate (all rows when it has none)."""
    pred = bind_where(opts, aliases_map)
    return silver.where(pred) if pred is not None else silver


@dataclass(frozen=True)
class Page:
    rows: DataFrame
    total: int
    total_pages: int
    page: int


def list_entries(
    silver: DataFrame,
    opts: EntrySearchOptions,
    cursor: PageCursor = PageCursor(),
    aliases_map: dict[str, str] | None = None,
) -> Page:
    """§3.1 end-to-end: filter -> count -> clamp -> page (entries.ts:87-139)."""
    filtered = filter_entries(silver, opts, aliases_map)
    total = filtered.count()
    page, total_pages = relational.clamp_page(total, cursor.page, cursor.page_size)
    rows = relational.paginate(filtered, order_by(opts.sort), page, cursor.page_size)
    return Page(rows=rows, total=total, total_pages=total_pages, page=page)


def get_entry(silver: DataFrame, entry_id: int) -> DataFrame:
    """S4 point lookup (getEntryById, entries.ts:141-145)."""
    return silver.where(F.col("id") == entry_id).limit(1)


def latest_entry_id(silver: DataFrame) -> int:
    """A2 high-water mark (entries.ts:147-150)."""
    return silver.agg(
        F.coalesce(F.max("id"), F.lit(0)).alias("m")
    ).first()["m"]


def latest_entries_snapshot(silver: DataFrame) -> DataFrame:
    """A3 latestEntriesByLastReportedDate (entries.ts:152-178): all rows at
    the max non-empty entry_date, id desc."""
    return relational.latest_snapshot(
        silver.where(F.col("entry_date").isNotNull() & (F.col("entry_date") != "")),
        "entry_date",
        "id",
    )


def distinct_resolutions(silver: DataFrame) -> DataFrame:
    """A4 (entries.ts:180-187)."""
    return (
        silver.select("resolution")
        .where(F.col("resolution").isNotNull() & (F.col("resolution") != ""))
        .distinct()
        .orderBy("resolution")
    )


def resolution_counts(silver: DataFrame) -> DataFrame:
    """A5 (entries.ts:189-204)."""
    return (
        silver.where(F.col("resolution").isNotNull() & (F.col("resolution") != ""))
        .groupBy("resolution")
        .agg(F.count("*").alias("n"))
    )


def home_stats(silver: DataFrame, today: str) -> DataFrame:
    """A6 homeStats (entries.ts:206-251): one wide conditional aggregate.

    ``today`` is injected (ISO) — the reference anchors on now(); tests
    pin it for determinism. diffDays guards (U11): both dates parseable
    and completion year <= anchor year; negative diffs excluded from
    averages (entries.ts:231)."""
    anchor = F.lit(today).cast("date")
    req, comp = F.col("request_dt"), F.col("completion_dt")
    resp = F.when(
        req.isNotNull()
        & comp.isNotNull()
        & (F.year(comp) <= F.year(anchor))
        & (F.datediff(comp, req) >= 0),
        F.datediff(comp, req),
    )

    def in_win(days: int) -> Column:
        return req >= F.date_sub(anchor, days)

    def avg_when(cond: Column | None) -> Column:
        v = resp if cond is None else F.when(cond, resp)
        return F.sum(v).cast("double") / F.count(v)

    return silver.agg(
        F.count("*").alias("total_requests"),
        F.count(F.when(in_win(30), 1)).alias("requests_30d"),
        F.count(F.when(in_win(90), 1)).alias("requests_90d"),
        F.count(F.when(in_win(365), 1)).alias("requests_365d"),
        F.count(resp).alias("responded"),
        avg_when(None).alias("avg_response_days"),
        avg_when(in_win(30)).alias("avg_response_days_30d"),
        avg_when(in_win(90)).alias("avg_response_days_90d"),
        avg_when(in_win(365)).alias("avg_response_days_365d"),
    )
