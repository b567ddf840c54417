"""Presentation-layer scalar helpers (pure Python — serving layer, not the
Spark hot path). Reference: src/lib/utils.ts.

These exist for parity with the reference's rendering functions (U12, U13,
U14, U18, U20, U27, U28 in SURVEY §2.8); they operate on collected
rows/values at the API edge.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from urllib.parse import urlencode

from .schema import PAGE_SIZE, SORT_OPTIONS, EntrySearchOptions, PageCursor


def diff_human(days: int | None) -> str:
    """U12 diffHuman (utils.ts:139-154): 365/30/7-based breakdown."""
    if days is None or days < 0:
        return "--"
    if days == 0:
        return "same day"
    parts = []
    for unit, size in (("year", 365), ("month", 30), ("week", 7), ("day", 1)):
        q, days = divmod(days, size)
        if q:
            parts.append(f"{q} {unit}" + ("s" if q > 1 else ""))
    return ", ".join(parts)


def format_date(value: str | None, short: bool = False) -> str:
    """U13 formatDate (utils.ts:88-109): en-US long/short, '--' for null."""
    if not value:
        return "--"
    try:
        d = dt.date.fromisoformat(value[:10])
    except ValueError:
        return "--"
    fmt = "%b %-d, %Y" if short else "%B %-d, %Y"
    try:
        return d.strftime(fmt)
    except ValueError:  # platforms without %-d
        return d.strftime(fmt.replace("%-d", "%d")).replace(" 0", " ")


def format_currency(value: str | None) -> str:
    """U14 formatCurrency (utils.ts:111-121): strip non [0-9.-], '--' for
    0/NaN, USD with 0 or 2 decimals."""
    if value is None:
        return "--"
    cleaned = re.sub(r"[^0-9.\-]", "", value)
    try:
        amount = float(cleaned)
    except ValueError:
        return "--"
    if amount == 0 or math.isnan(amount):
        return "--"
    if amount == int(amount):
        return f"${int(amount):,}"
    return f"${amount:,.2f}"


def fmt_number(value: float) -> str:
    """U18 fmtNumber (utils.ts:156-158)."""
    return f"{round(value):,}"


def build_page_numbers(current: int, total: int) -> list[int | None]:
    """U20 buildPageNumbers (utils.ts:160-172): 7-slot window with None as
    ellipsis markers."""
    if total <= 7:
        return list(range(1, total + 1))
    if current <= 4:
        return [1, 2, 3, 4, 5, None, total]
    if current >= total - 3:
        return [1, None, total - 4, total - 3, total - 2, total - 1, total]
    return [1, None, current - 1, current, current + 1, None, total]


def parse_entry_search_options(params: dict[str, str | list[str]]) -> EntrySearchOptions:
    """U27 parseEntrySearchOptions (utils.ts:74-86)."""

    def one(k: str) -> str | None:
        v = params.get(k)
        if isinstance(v, list):
            v = v[0] if v else None
        v = (v or "").strip()
        return v or None

    res = params.get("resolution") or []
    if isinstance(res, str):
        res = [res]
    sort = one("sort") or "newest_entry"
    if sort not in SORT_OPTIONS:
        sort = "newest_entry"
    return EntrySearchOptions(
        search=one("search"),
        agency=one("agency"),
        resolution=tuple(r.strip() for r in res if r.strip()),
        date_from=one("dateFrom"),
        date_to=one("dateTo"),
        sort=sort,
    )


def parse_cursor(params: dict[str, str]) -> PageCursor:
    """U27 parseCursor (utils.ts:67-72): page >= 1, fixed size."""
    try:
        page = max(1, int(params.get("page", "1")))
    except (TypeError, ValueError):
        page = 1
    return PageCursor(page=page, page_size=PAGE_SIZE)


def href(base: str, **query) -> str:
    """U28 href builder (links.ts:4-29): skip null/empty values."""
    q = {k: v for k, v in query.items() if v not in (None, "", [])}
    return f"{base}?{urlencode(q, doseq=True)}" if q else base


# C4 HTTP cache policy (the last reference surface with no engine-side
# counterpart; VERDICT r11 missing #2). The reference applies exactly
# one caching policy to its dynamic pages and feeds — short browser TTL,
# medium CDN TTL, day-long stale-while-revalidate (entries/feed.xml.ts:
# 10,41-43; agencies/[slug]/feed.xml.ts:11,63-65; agencies/{index,
# [slug]}.astro:16-17) — and no-store on the verification-gated export
# download (wvfoia.[ext].ts:180,210,254, carried by foia/download.py's
# decision table). There is no conditional-request (ETag/Last-Modified)
# logic anywhere in the reference; the policy constant IS the feature.
PAGE_CACHE_CONTROL = (
    "public, max-age=120, s-maxage=300, stale-while-revalidate=86400"
)


def response_headers(kind: str) -> dict:
    """Headers a deployment sets on each response class — the engine
    owns the POLICY (what the reference hardcodes per route), the
    framework does the setting. Kinds: ``page`` (HTML routes),
    ``feed`` (RSS, adds the content type feed.xml.ts:41 sends),
    ``export`` (the gated download class: never cached, never
    indexed)."""
    if kind == "page":
        return {"cache-control": PAGE_CACHE_CONTROL}
    if kind == "feed":
        return {
            "content-type": "application/rss+xml; charset=utf-8",
            "cache-control": PAGE_CACHE_CONTROL,
        }
    if kind == "export":
        from .download import EXPORT_ROBOTS_TAG

        return {
            "cache-control": "no-store",
            "x-robots-tag": EXPORT_ROBOTS_TAG,
        }
    raise ValueError(f"unknown response kind: {kind!r}")
