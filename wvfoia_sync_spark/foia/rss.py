"""RSS 2.0 feed builder (reference src/lib/rss.ts — S11/U21/U22, feed
shaping at src/pages/entries/feed.xml.ts and agencies/[slug]/feed.xml.ts).

The items come from a small collected result (feed caps: 200 home / 100
agency, O5) — serialization is driver-side string building, exactly like
the reference. The engine guarantees the item *selection* is a proper
Spark query (latest-snapshot / newest_entry page), not that XML writing
is distributed.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

HOME_FEED_LIMIT = 200  # feed.xml.ts:11
AGENCY_FEED_LIMIT = 100  # agencies/[slug]/feed.xml.ts:12


def escape_xml(v: str) -> str:
    """U21 escapeXml (rss.ts:18-25)."""
    return escape(v, {'"': "&quot;", "'": "&apos;"})


def parse_feed_date(value: str | None) -> dt.datetime | None:
    """U22 parseFeedDate (rss.ts:32-44): ISO day -> UTC noon; else generic
    parse; null-safe."""
    if not value:
        return None
    try:
        if len(value) == 10:
            d = dt.date.fromisoformat(value)
            return dt.datetime(d.year, d.month, d.day, 12, tzinfo=dt.timezone.utc)
        return dt.datetime.fromisoformat(value.replace("Z", "+00:00"))
    except ValueError:
        return None


def rfc822(t: dt.datetime | None) -> str | None:
    if t is None:
        return None
    # convert before labeling GMT — a +05:00 aware datetime formatted
    # as-is would mislabel its wall-clock as GMT, 5 hours off
    if t.tzinfo is not None:
        t = t.astimezone(dt.timezone.utc)
    return t.strftime("%a, %d %b %Y %H:%M:%S GMT")


@dataclass(frozen=True)
class RssItem:
    title: str
    link: str
    guid: str
    description: str = ""
    pub_date: dt.datetime | None = None


@dataclass(frozen=True)
class RssChannel:
    title: str
    link: str
    description: str
    language: str = "en-us"  # reference defaults language to en-us (rss.ts:51)
    last_build_date: dt.datetime | None = None
    items: list[RssItem] = field(default_factory=list)


def build_rss_document(channel: RssChannel) -> str:
    """S11 buildRssDocument (rss.ts:46-66)."""
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        '<rss version="2.0">',
        "<channel>",
        f"<title>{escape_xml(channel.title)}</title>",
        f"<link>{escape_xml(channel.link)}</link>",
        f"<description>{escape_xml(channel.description)}</description>",
    ]
    if channel.language:
        parts.append(f"<language>{escape_xml(channel.language)}</language>")
    lbd = rfc822(channel.last_build_date)
    if lbd:
        parts.append(f"<lastBuildDate>{lbd}</lastBuildDate>")
    for item in channel.items:
        parts.append("<item>")
        parts.append(f"<title>{escape_xml(item.title)}</title>")
        parts.append(f"<link>{escape_xml(item.link)}</link>")
        parts.append(f'<guid isPermaLink="false">{escape_xml(item.guid)}</guid>')
        if item.description:
            parts.append(f"<description>{escape_xml(item.description)}</description>")
        pd_ = rfc822(item.pub_date)
        if pd_:
            parts.append(f"<pubDate>{pd_}</pubDate>")
        parts.append("</item>")
    parts.append("</channel>")
    parts.append("</rss>")
    return "\n".join(parts)


def entry_to_item(row, base_url: str = "https://example.org") -> RssItem:
    """Feed item shaping (entries/feed.xml.ts:14-46): title from agency +
    subject, guid from id, pubDate from entry_date at UTC noon."""
    subject = row["subject"] or "(no subject)"
    title = f"{row['agency']}: {subject}"
    return RssItem(
        title=title,
        link=f"{base_url}/entries/{row['id']}",
        guid=f"wvfoia-{row['id']}",
        description=row["details"] or "",
        pub_date=parse_feed_date(row["entry_date"]),
    )


def home_feed(snapshot_rows, base_url: str = "https://example.org") -> str:
    """Home feed: latest-snapshot entries, first 200 (feed.xml.ts:11,17)."""
    items = [entry_to_item(r, base_url) for r in snapshot_rows[:HOME_FEED_LIMIT]]
    return build_rss_document(
        RssChannel(
            title="WV FOIA Database",
            link=base_url,
            description="Latest FOIA requests",
            items=items,
        )
    )


def _first_date(row) -> str | None:
    """entry_date ?? completion_date ?? request_date (the reference's
    pubDate fallback chain, agencies/[slug]/feed.xml.ts:50)."""
    return row["entry_date"] or row["completion_date"] or row["request_date"]


def agency_entry_to_item(row, slug: str, base_url: str) -> RssItem:
    """Agency-feed item shaping (agencies/[slug]/feed.xml.ts:40-52):
    title '{subject|No subject} (#id)', guid 'agency-{slug}-entry-{id}',
    description with short-formatted request/completion dates and
    resolution, pubDate from the entry/completion/request fallback."""
    from .serve import format_date

    subject = row["subject"] or "No subject"
    return RssItem(
        title=f"{subject} (#{row['id']})",
        link=f"{base_url}/entries/{row['id']}",
        guid=f"agency-{slug}-entry-{row['id']}",
        description=(
            f"Request: {format_date(row['request_date'], True)}. "
            f"Completed: {format_date(row['completion_date'], True)}. "
            f"Resolution: {row['resolution'] or '--'}."
        ),
        pub_date=parse_feed_date(_first_date(row)),
    )


def agency_feed(
    silver,
    agency_name: str,
    slug: str,
    aliases_map: dict[str, str] | None = None,
    base_url: str = "https://example.org",
) -> str:
    """Per-agency feed (reference src/pages/agencies/[slug]/feed.xml.ts:
    12,26-39): page 1 of AGENCY_FEED_LIMIT in newest_entry order, scoped
    to the agency — built from the entry search's own predicate, order
    and ``paginate``, so the Spark-side selection is the audited
    TakeOrderedAndProject page, never a bespoke scan. Page 1 never
    clamps, so the search's count job would only be thrown away: the
    feed is one job."""
    from ..operators.relational import paginate
    from .queries import filter_entries, order_by
    from .schema import EntrySearchOptions

    opts = EntrySearchOptions(agency=agency_name, sort="newest_entry")
    page = paginate(
        filter_entries(silver, opts, aliases_map), order_by(opts.sort), 1, AGENCY_FEED_LIMIT
    )
    rows = [r.asDict() for r in page.collect()]
    items = [agency_entry_to_item(r, slug, base_url) for r in rows]
    last_build = parse_feed_date(_first_date(rows[0])) if rows else None
    return build_rss_document(
        RssChannel(
            title=f"{agency_name} - wvfoia entries",
            link=f"{base_url}/agencies/{slug}",
            description=f"Newest WVFOIA entries for {agency_name}.",
            last_build_date=last_build,
            items=items,
        )
    )
