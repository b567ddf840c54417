"""Reference app surface: scans, lookups, pagination, feeds, serving shapes (SURVEY §2.1/2.2/2.6, reference src/pages + src/lib).

Split from the monolithic registry.py (round 4, verdict item 8) —
mechanical move, no query renames; in-module order preserves the
original registration order. Queries register into wvfoia_sync_spark.
registry's QUERIES/ORACLE via the shared @register decorator.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..operators import fts, fts_index, relational, textops, timeline
from ..registry import (
    _SQL_FEE,
    _SQL_SLUG,
    _SQL_TOKENS,
    _d,
    _money_sum,
    register,
)
from ..sources.tables import load_table


@register(
    "filter_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O'
      AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o_orderdate AS DATE) < DATE '1999-01-01'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3/F7: equality + membership + date-range predicates, narrow
    projection (Catalyst pushes all of it into the parquet scan)."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.where(
        (F.col("o_orderstatus") == "O")
        & (d >= F.lit("1997-01-01").cast("date"))
        & (d < F.lit("1999-01-01").cast("date"))
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(
        "o_orderkey",
        "o_custkey",
        _d("o_orderdate").alias("order_date"),
        "o_orderpriority",
        "o_totalprice",
    )



@register(
    "point_lookup",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date
    FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
    """,
)
def point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 point lookup by primary key (getEntryById, entries.ts:141-145)."""
    o = load_table(spark, sf_dir, "orders")
    min_key = o.agg(F.min("o_orderkey").alias("k"))
    return (
        o.join(F.broadcast(min_key), o.o_orderkey == F.col("k"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            _d("o_orderdate").alias("order_date"),
        )
    )



@register(
    "distinct_values",
    oracle="SELECT DISTINCT o_orderpriority FROM orders WHERE o_orderpriority IS NOT NULL",
)
def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 distinct categorical values (distinctResolutions, entries.ts:180-187)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderpriority")
        .where(F.col("o_orderpriority").isNotNull())
        .distinct()
    )



@register(
    "group_counts",
    oracle="SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus",
)
def group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 grouped counts (resolutionCounts, entries.ts:189-204)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(F.count("*").alias("n"))



@register(
    "max_key",
    oracle="SELECT CAST(COALESCE(MAX(o_orderkey), 0) AS BIGINT) AS max_id FROM orders",
)
def max_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 high-water mark (getLatestEntryId, entries.ts:147-150)."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.coalesce(F.max("o_orderkey"), F.lit(0)).cast("long").alias("max_id")
    )



@register(
    "latest_snapshot",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date
    FROM orders
    WHERE CAST(o_orderdate AS DATE) = (SELECT max(CAST(o_orderdate AS DATE)) FROM orders)
    """,
)
def latest_snapshot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 latest-snapshot (latestEntriesByLastReportedDate, entries.ts:152-178):
    all rows sharing the max date, via rank()==1 (one pass, no re-scan)."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )
    return relational.latest_snapshot(o, "o_orderdate", "o_orderkey").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        _d("o_orderdate").alias("order_date"),
    )





@register(
    "home_stats",
    oracle="""
    WITH resp AS (
      SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS odate,
             datediff('day', CAST(o.o_orderdate AS DATE), s.ship) AS resp_days
      FROM orders o
      LEFT JOIN (SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS ship
                 FROM lineitem GROUP BY l_orderkey) s
        ON o.o_orderkey = s.l_orderkey
    ), anchored AS (
      SELECT r.*, (SELECT max(CAST(o_orderdate AS DATE)) FROM orders) AS anchor FROM resp r
    )
    SELECT COUNT(*) AS total_requests,
           COUNT(CASE WHEN odate >= anchor - 30 THEN 1 END) AS requests_30d,
           COUNT(CASE WHEN odate >= anchor - 90 THEN 1 END) AS requests_90d,
           COUNT(CASE WHEN odate >= anchor - 365 THEN 1 END) AS requests_365d,
           COUNT(CASE WHEN resp_days >= 0 THEN 1 END) AS responded,
           CAST(SUM(CASE WHEN resp_days >= 0 THEN resp_days END) AS DOUBLE)
             / COUNT(CASE WHEN resp_days >= 0 THEN 1 END) AS avg_response_days,
           CAST(SUM(CASE WHEN resp_days >= 0 AND odate >= anchor - 365 THEN resp_days END) AS DOUBLE)
             / COUNT(CASE WHEN resp_days >= 0 AND odate >= anchor - 365 THEN 1 END) AS avg_response_days_365d
    FROM anchored
    """,
)
def home_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 homeStats (entries.ts:206-251): anchored 30/90/365-day windowed
    counts + conditional averages, one wide aggregate. The anchor is
    max(order date) — the reference anchors on now(); data-derived anchors
    keep the oracle deterministic."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ship = li.groupBy("l_orderkey").agg(
        F.min(F.col("l_shipdate").cast("date")).alias("ship")
    )
    j = (
        o.select("o_orderkey", F.col("o_orderdate").cast("date").alias("odate"))
        .join(ship, o.o_orderkey == ship.l_orderkey, "left")
        .crossJoin(
            F.broadcast(o.agg(F.max(F.col("o_orderdate").cast("date")).alias("anchor")))
        )
    )
    resp = F.when(
        F.col("ship").isNotNull() & (F.datediff("ship", "odate") >= 0),
        F.datediff("ship", "odate"),
    )
    in_win = lambda days: F.col("odate") >= F.date_sub(F.col("anchor"), days)  # noqa: E731
    return j.agg(
        F.count("*").alias("total_requests"),
        F.count(F.when(in_win(30), 1)).alias("requests_30d"),
        F.count(F.when(in_win(90), 1)).alias("requests_90d"),
        F.count(F.when(in_win(365), 1)).alias("requests_365d"),
        F.count(resp).alias("responded"),
        (F.sum(resp).cast("double") / F.count(resp)).alias("avg_response_days"),
        (
            F.sum(F.when(in_win(365), resp)).cast("double")
            / F.count(F.when(in_win(365), resp))
        ).alias("avg_response_days_365d"),
    )



@register(
    "nation_stats",
    oracle="""
    WITH base AS (
      SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS odate, o.o_totalprice, o.o_orderstatus,
             (SELECT max(CAST(o_orderdate AS DATE)) FROM orders) AS anchor
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    ), metrics AS (
      SELECT n_name,
             COUNT(*) AS requests,
             COUNT(CASE WHEN odate >= anchor - 30 THEN 1 END) AS requests_30d,
             COUNT(CASE WHEN odate >= anchor - 90 THEN 1 END) AS requests_90d,
             COUNT(CASE WHEN odate >= anchor - 365 THEN 1 END) AS requests_365d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_totalprice,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_totalprice
      FROM base GROUP BY n_name
    ), pivoted AS (
      SELECT n_name,
             COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_f,
             COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_o,
             COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_p
      FROM base GROUP BY n_name
    )
    SELECT m.n_name AS nation, m.requests, m.requests_30d, m.requests_90d, m.requests_365d,
           m.sum_totalprice, m.avg_totalprice, p.status_f, p.status_o, p.status_p
    FROM metrics m JOIN pivoted p ON m.n_name = p.n_name
    """,
)
def nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/A8/A9/J3 agency-stats shape: per-group conditional metrics joined
    with a pivoted categorical count table. The nation dim keeps its
    broadcast hint (25 rows at any SF); customer is sf-proportional so
    its join is deliberately UNHINTED — AQE broadcasts it while it fits
    the threshold and degrades to a shuffled join at scale (a pinned
    hint never degrades). The two aggregates reuse one shuffled base."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    base = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.col("o_orderdate").cast("date").alias("odate"),
            "o_totalprice",
            "o_orderstatus",
        )
        .crossJoin(
            F.broadcast(o.agg(F.max(F.col("o_orderdate").cast("date")).alias("anchor")))
        )
    )
    in_win = lambda days: F.col("odate") >= F.date_sub(F.col("anchor"), days)  # noqa: E731
    metrics = base.groupBy("n_name").agg(
        F.count("*").alias("requests"),
        F.count(F.when(in_win(30), 1)).alias("requests_30d"),
        F.count(F.when(in_win(90), 1)).alias("requests_90d"),
        F.count(F.when(in_win(365), 1)).alias("requests_365d"),
        _money_sum("o_totalprice").alias("sum_totalprice"),
        (_money_sum("o_totalprice") / F.count("*")).alias("avg_totalprice"),
    )
    pivoted = (
        base.groupBy("n_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "n_name",
            *[
                F.coalesce(F.col(s), F.lit(0)).cast("long").alias(f"status_{s.lower()}")
                for s in ["F", "O", "P"]
            ],
        )
    )
    return metrics.join(pivoted, "n_name").withColumnRenamed("n_name", "nation")



@register(
    "status_timeline",
    oracle="""
    WITH bounds AS (
      SELECT max(CAST(o_orderdate AS DATE)) - 89 AS lo, max(CAST(o_orderdate AS DATE)) AS hi
      FROM orders
    ), spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d FROM bounds
    ), agg AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_f,
             COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_o,
             COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_p
      FROM orders GROUP BY 1
    )
    SELECT strftime(s.d, '%Y-%m-%d') AS date,
           CAST(COALESCE(a.status_f, 0) AS BIGINT) AS status_f,
           CAST(COALESCE(a.status_o, 0) AS BIGINT) AS status_o,
           CAST(COALESCE(a.status_p, 0) AS BIGINT) AS status_p
    FROM spine s LEFT JOIN agg a ON s.d = a.d
    """,
)
def status_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/J5 resolution-timeline shape: last-90-day daily pivot with dense
    zero-fill (agencyResolutionTimeline, agencies.ts:186-263). The window
    ends at the data's own last order date."""
    o = load_table(spark, sf_dir, "orders")
    hi = F.max("date")
    tl = timeline.daily_pivot_timeline(
        o,
        F.col("o_orderdate"),
        F.col("o_orderstatus"),
        ["F", "O", "P"],
        F.date_sub(hi, 89),
        hi,
    )
    return tl.select(
        _d("date").alias("date"),
        F.col("F").alias("status_f"),
        F.col("O").alias("status_o"),
        F.col("P").alias("status_p"),
    )





@register(
    "page_fetch",
    oracle="""
    SELECT o_orderkey, o_custkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
           o_orderstatus, o_totalprice
    FROM orders
    ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC
    LIMIT 50 OFFSET 100
    """,
)
def page_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 offset pagination under a deterministic total order (page 3 of
    50; LIMIT/OFFSET semantics of entries.ts:115-116 with the SURVEY §7
    id tiebreaker)."""
    o = load_table(spark, sf_dir, "orders")
    page = relational.paginate(
        o,
        [F.col("o_orderdate").cast("date").desc(), F.col("o_orderkey").desc()],
        page=3,
        page_size=50,
    )
    return page.select(
        "o_orderkey",
        "o_custkey",
        _d("o_orderdate").alias("order_date"),
        "o_orderstatus",
        "o_totalprice",
    )



@register(
    "top_fees",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 20
    """,
)
def top_fees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 highest_fee sort + O5 top-N slice (TakeOrderedAndProject — no
    global sort materialization)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    )



@register(
    "corrections_overlay",
    oracle="""
    WITH patches AS (
      SELECT o_orderkey, CAST(CAST(o_orderdate AS DATE) + INTERVAL 10000 DAY AS DATE) AS o_orderdate
      FROM orders ORDER BY o_orderkey LIMIT 3
    ), overlaid AS (
      SELECT o.o_orderkey, COALESCE(p.o_orderdate, CAST(o.o_orderdate AS DATE)) AS eff_date
      FROM orders o LEFT JOIN patches p ON o.o_orderkey = p.o_orderkey
    )
    SELECT o_orderkey, strftime(eff_date, '%Y-%m-%d') AS corrected_date
    FROM overlaid WHERE eff_date > DATE '2010-01-01'
    """,
)
def corrections_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/F6 corrections overlay (applyCorrections/correctedDateExpr,
    corrections.ts:70-88, shared.ts:55-66): broadcast patch join +
    coalesce, then a filter that only corrected rows satisfy."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )
    patches = (
        o.orderBy("o_orderkey")
        .limit(3)
        .select("o_orderkey", F.date_add("o_orderdate", 10000).alias("o_orderdate"))
    )
    overlaid = relational.apply_patches(o, patches, "o_orderkey", ["o_orderdate"])
    return overlaid.where(
        F.col("o_orderdate") > F.lit("2010-01-01").cast("date")
    ).select("o_orderkey", _d("o_orderdate").alias("corrected_date"))



@register(
    "slug_rollup",
    oracle=f"""
    SELECT {_SQL_SLUG.format(c='p_type')} AS slug,
           COUNT(*) AS n
    FROM part GROUP BY 1
    """,
)
def slug_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 slugify + A13 canonical rollup (agencyIdentity/slug grouping,
    shared.ts:14-19): normalize a dirty string key, then aggregate on it."""
    from ..functions.normalize import slugify_col

    p = load_table(spark, sf_dir, "part")
    return p.groupBy(slugify_col("p_type").alias("slug")).agg(
        F.count("*").alias("n")
    )





@register(
    "fts_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, source, {_SQL_TOKENS.format(c='text')} AS t FROM documents
    )
    SELECT doc_id, lang, source FROM toks
    WHERE len(list_filter(t, x -> x LIKE 'spark%')) > 0
      AND len(list_filter(t, x -> x LIKE 'vector%')) > 0
    """,
)
def fts_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/U23/U24 FTS: AND-of-prefix-terms over FTS5-style tokens
    (buildFtsQuery, entries.ts:12-26), scan strategy."""
    docs = load_table(spark, sf_dir, "documents")
    return fts.search_scan(docs, ["text"], "Spark vector").select(
        "doc_id", "lang", "source"
    )



@register(
    "fts_index_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, source, {_SQL_TOKENS.format(c='text')} AS t FROM documents
    )
    SELECT doc_id, lang, source FROM toks
    WHERE len(list_filter(t, x -> x LIKE 'merge%')) > 0
      AND len(list_filter(t, x -> x LIKE 'stream%')) > 0
    """,
)
def fts_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 scale path: inverted-index (posting list) build + per-term
    semi-join intersection — same semantics as the scan strategy."""
    docs = load_table(spark, sf_dir, "documents")
    index = fts.build_inverted_index(docs, "doc_id", ["text"])
    return fts.search_index(docs, index, "doc_id", "merge stream").select(
        "doc_id", "lang", "source"
    )


@register(
    "fts_stored_index_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, source, {_SQL_TOKENS.format(c='text')} AS t FROM documents
    )
    SELECT doc_id, lang, source FROM toks
    WHERE len(list_filter(t, x -> x LIKE 'merge%')) > 0
      AND len(list_filter(t, x -> x LIKE 'stream%')) > 0
    """,
)
def fts_stored_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/S5 production path: the same prefix-AND search served from the
    MATERIALIZED, incrementally-maintained posting index
    (operators/fts_index.py — segment appends for new/updated docs,
    live-docs resolution at read, compaction; the reference's
    trigger-maintained FTS table, 0002_fts.sql:17-32, as the Lucene
    segment model on parquet). Build happens once per (machine, sf_dir,
    documents-content) via the derived-state cache; queries pay a
    doc-cardinality live aggregate + posting semi-joins, never a corpus
    re-tokenize."""
    docs = load_table(spark, sf_dir, "documents")
    path = fts_index.fts_index_path(sf_dir)
    fts_index.build_fts_index(docs, path, id_col="doc_id", text_cols=["text"])
    index = fts_index.load_fts_index(spark, path)
    return fts.search_index(docs, index, "doc_id", "merge stream").select(
        "doc_id", "lang", "source"
    )



@register(
    "keyset_page",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_orderkey > 1000
    ORDER BY o_orderkey ASC LIMIT 50
    """,
)
def keyset_page_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset pagination (relational.keyset_page): deep-scan paging with a
    pushed-down range predicate instead of a global row_number sort —
    the 100 TB-safe alternative to OFFSET (SURVEY §2.6 scale note)."""
    o = load_table(spark, sf_dir, "orders")
    return relational.keyset_page(
        o.select("o_orderkey", "o_totalprice"), "o_orderkey", 1000, 50, descending=False
    )





@register(
    "quality_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, {_SQL_TOKENS.format(c='text')} AS toks FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CASE WHEN length(text) > 0
                  THEN CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                       / length(text) ELSE 0.0 END AS alpha_ratio,
             CASE WHEN len(toks) > 0
                  THEN CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
                       / len(toks) ELSE 0.0 END AS avg_token_len
      FROM t
    )
    SELECT doc_id FROM m
    WHERE n_tokens >= 10 AND alpha_ratio >= 0.5 AND avg_token_len <= 20.0
    """,
)
def quality_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate (C4-style heuristics, textops.quality_filter): keep
    docs passing token-count / alpha-ratio / token-length thresholds."""
    docs = load_table(spark, sf_dir, "documents")
    return textops.quality_filter(docs, "text", 10, 0.5, 20.0).select("doc_id")



@register(
    "nation_page",
    oracle="""
    WITH stats AS (
      SELECT n.n_name AS nation, COUNT(*) AS requests
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    )
    SELECT nation, requests FROM stats
    WHERE instr(lower(nation), '1') > 0
    ORDER BY requests DESC, nation ASC LIMIT 10
    """,
)
def nation_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 agencies-page term filter + O3 sort + O5 top slice
    (agencies.ts:146-179) on the nation-stats gold shape."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    stats = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("requests"))
    )
    return (
        stats.where(F.instr(F.lower("nation"), "1") > 0)
        .orderBy(F.col("requests").desc(), F.col("nation").asc())
        .limit(10)
    )



@register(
    "fee_sort",
    oracle=f"""
    WITH fees AS (
      SELECT o_orderkey, printf('$%.2f', o_totalprice) AS fee FROM orders
    )
    SELECT o_orderkey, fee,
           {_SQL_FEE.format(c='fee')} AS fee_amount
    FROM fees
    ORDER BY fee_amount DESC, o_orderkey ASC LIMIT 20
    """,
)
def fee_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U14 currency parse + O1 highest_fee sort (utils.ts:111-121, 3-9):
    '$'-formatted strings parsed back to DECIMAL(12,2) and sorted. This is
    the engine's documented semantic for the reference's
    CAST(fee AS INTEGER) sort (SURVEY §7 decision)."""
    from ..functions.normalize import parse_fee

    o = load_table(spark, sf_dir, "orders")
    fees = o.select(
        "o_orderkey", F.format_string("$%.2f", F.col("o_totalprice")).alias("fee")
    )
    return (
        fees.withColumn("fee_amount", parse_fee("fee").cast("double"))
        .orderBy(F.col("fee_amount").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )



@register(
    "date_normalize",
    oracle="""
    SELECT o_orderkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS norm_date
    FROM orders WHERE o_orderkey <= 500
    """,
)
def date_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 normalizeDate (sync.ts:59-76): build dirty M/d/yyyy strings from
    the order date, parse them back — the oracle asserts the round-trip
    recovers the original ISO date exactly."""
    from ..functions.normalize import normalize_date

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 500)
    d = F.col("o_orderdate").cast("date")
    dirty = F.concat_ws("/", F.month(d), F.dayofmonth(d), F.year(d))
    return o.select(
        "o_orderkey",
        F.date_format(normalize_date(dirty), "yyyy-MM-dd").alias("norm_date"),
    )



@register(
    "resolution_buckets",
    oracle="""
    WITH mapped AS (
      SELECT CASE o_orderpriority
               WHEN '1-URGENT' THEN 'Granted'
               WHEN '2-HIGH' THEN 'Granted in part'
               WHEN '3-MEDIUM' THEN 'Exempted'
               WHEN '4-NOT SPECIFIED' THEN 'Rejected'
               ELSE 'Withdrawn' END AS resolution
      FROM orders
    ), bucketed AS (
      SELECT CASE lower(trim(resolution))
               WHEN 'granted' THEN 'granted'
               WHEN 'granted in part' THEN 'granted_in_part'
               WHEN 'exempted' THEN 'exempted'
               WHEN 'rejected' THEN 'rejected'
               ELSE 'other' END AS bucket
      FROM mapped
    )
    SELECT bucket, COUNT(*) AS n,
           CAST(CASE bucket WHEN 'granted' THEN 0 WHEN 'granted_in_part' THEN 1
                WHEN 'exempted' THEN 2 WHEN 'rejected' THEN 3
                ELSE 2147483647 END AS INT) AS sort_score
    FROM bucketed GROUP BY bucket
    """,
)
def resolution_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U16 resolutionBucketKey + U17 resolutionSortScore (utils.ts:23-40)
    over a synthesized resolution column."""
    from ..functions.normalize import resolution_bucket

    o = load_table(spark, sf_dir, "orders")
    mapped = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", "Granted")
        .when(F.col("o_orderpriority") == "2-HIGH", "Granted in part")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "Exempted")
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", "Rejected")
        .otherwise("Withdrawn")
        .alias("resolution")
    )
    bucketed = mapped.select(resolution_bucket("resolution").alias("bucket"))
    # U17 display rank keyed by BUCKET (the bucket keys differ from the raw
    # resolution spellings U17 scores in the reference, so score explicitly)
    score = (
        F.when(F.col("bucket") == "granted", 0)
        .when(F.col("bucket") == "granted_in_part", 1)
        .when(F.col("bucket") == "exempted", 2)
        .when(F.col("bucket") == "rejected", 3)
        .otherwise(F.lit(2147483647))
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min(score).cast("int").alias("sort_score"),
    )



@register(
    "status_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup aggregate (engine breadth beyond the reference,
    which has no grouping sets — SURVEY §2.4 note)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )



@register(
    "rss_items",
    oracle="""
    SELECT 'Order ' || CAST(o_orderkey AS VARCHAR) || ' (' || o_orderpriority || ')' AS title,
           'https://example.org/orders/' || CAST(o_orderkey AS VARCHAR) AS link,
           'order-' || CAST(o_orderkey AS VARCHAR) AS guid,
           strftime(CAST(o_orderdate AS DATE), '%a, %d %b %Y') || ' 12:00:00 GMT' AS pub_date
    FROM orders
    ORDER BY CAST(o_orderdate AS DATE) DESC, o_orderkey DESC
    LIMIT 20
    """,
)
def rss_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/U22/O5 RSS item shaping (rss.ts:46-66, feed.xml.ts:14-46):
    newest-first top-N with RFC-822 pubDate at UTC noon (U22 ISO-day
    rule). XML document assembly is driver-side (foia.rss); the item
    *selection and field shaping* is the Spark query."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return (
        o.orderBy(d.desc(), F.col("o_orderkey").desc())
        .limit(20)
        .select(
            F.concat(
                F.lit("Order "), F.col("o_orderkey").cast("string"),
                F.lit(" ("), F.col("o_orderpriority"), F.lit(")"),
            ).alias("title"),
            F.concat(
                F.lit("https://example.org/orders/"), F.col("o_orderkey").cast("string")
            ).alias("link"),
            F.concat(F.lit("order-"), F.col("o_orderkey").cast("string")).alias("guid"),
            F.concat(
                F.date_format(d, "EEE, dd MMM yyyy"), F.lit(" 12:00:00 GMT")
            ).alias("pub_date"),
        )
    )



@register(
    "agency_rss_items",
    oracle="""
    SELECT o_orderpriority || ' (#' || CAST(o_orderkey AS VARCHAR) || ')' AS title,
           'agency-' || CAST(o_custkey AS VARCHAR) || '-entry-' || CAST(o_orderkey AS VARCHAR) AS guid,
           'Request: ' || strftime(CAST(o_orderdate AS DATE), '%b %d, %Y')
             || '. Resolution: ' || o_orderstatus || '.' AS description,
           strftime(CAST(o_orderdate AS DATE), '%a, %d %b %Y') || ' 12:00:00 GMT' AS pub_date
    FROM orders
    WHERE o_custkey = (SELECT MIN(o_custkey) FROM orders)
    ORDER BY o_orderkey DESC
    LIMIT 100
    """,
)
def agency_rss_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agency-scoped feed selection (reference agencies/[slug]/feed.xml.ts:
    12,26-52 ≡ ``foia.rss.agency_feed``): page 1 of size 100 in
    newest-entry order for ONE scoped key, with the agency-feed item
    shaping (title '(#id)' suffix, 'agency-…-entry-…' guid, short-date
    description, UTC-noon pubDate). The scope key is resolved lazily from
    a 1-row broadcast agg (no driver collect at plan-build), and the page
    is a TakeOrderedAndProject — never a global sort."""
    o = load_table(spark, sf_dir, "orders")
    target = o.agg(F.min("o_custkey").alias("_k"))
    d = F.col("o_orderdate").cast("date")
    return (
        o.join(F.broadcast(target), F.col("o_custkey") == F.col("_k"))
        .drop("_k")
        .orderBy(F.col("o_orderkey").desc())
        .limit(100)
        .select(
            F.concat(
                F.col("o_orderpriority"), F.lit(" (#"),
                F.col("o_orderkey").cast("string"), F.lit(")"),
            ).alias("title"),
            F.concat(
                F.lit("agency-"), F.col("o_custkey").cast("string"),
                F.lit("-entry-"), F.col("o_orderkey").cast("string"),
            ).alias("guid"),
            F.concat(
                F.lit("Request: "), F.date_format(d, "MMM dd, yyyy"),
                F.lit(". Resolution: "), F.col("o_orderstatus"), F.lit("."),
            ).alias("description"),
            F.concat(
                F.date_format(d, "EEE, dd MMM yyyy"), F.lit(" 12:00:00 GMT")
            ).alias("pub_date"),
        )
    )





@register(
    "phrase_search",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE instr(lower(text), 'spark join') > 0
       OR instr(lower(text), 'merge group') > 0
    """,
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5-family exact-phrase predicate (the FTS MATCH '\"a b\"' form the
    token-array index can't answer alone): substring containment on the
    lowered text, pushed as a codegen Contains — at scale this runs as a
    post-filter on the token-index candidate set (AND of the phrase's
    terms) so the scan only touches candidate docs."""
    docs = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    return docs.where(
        low.contains("spark join") | low.contains("merge group")
    ).select("doc_id", "source")



@register(
    "fts_vocab",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS.format(c='text')}) AS term
      FROM documents
    )
    SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tok GROUP BY term
    ORDER BY doc DESC, term ASC LIMIT 50
    """,
)
def fts_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+: the FTS vocabulary surface (reference ``entries_fts_v``,
    migrations/0002_fts.sql:15) — term -> document frequency + total
    occurrences, the statistics BM25 consumes internally, exposed as a
    first-class query (VERDICT r2 missing #3). Top-50 by doc frequency
    via TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        fts.vocabulary(docs, "doc_id", ["text"])
        .orderBy(F.col("doc").desc(), F.col("term").asc())
        .limit(50)
    )



@register(
    "sql_interface",
    oracle="""
    SELECT n.n_name,
           YEAR(CAST(l.l_shipdate AS DATE)) AS ship_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,4))))
                AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name, ship_year
    HAVING COUNT(*) >= 20
    ORDER BY n.n_name, ship_year
    """,
)
def sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface: the same engine served through spark.sql over
    temp views — a user who writes ANSI SQL instead of the DataFrame API
    gets the identical Catalyst plan (views are just named logical
    plans; pushdown, broadcast and partial aggregation apply exactly as
    in the DataFrame form). The query text is character-for-character
    the oracle's SQL, which is the point: this engine's SQL dialect for
    the relational core IS the portable one.

    spread considered and REJECTED (r13): an interleaved same-process
    A/B (spread lineitem view vs plain, 6 runs each) measured
    min 2.03 s spread vs 1.87 s plain — the three broadcast probes +
    decimal fold are cheap enough per row that the round-robin exchange
    of the full fact table costs more than the parallelism buys, exactly
    the load_table docstring's default judgement. (A first cross-process
    comparison suggested a win; it was session noise — recorded here so
    the next round doesn't repeat the experiment.)"""
    for t in ("lineitem", "orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n.n_name,
               YEAR(CAST(l.l_shipdate AS DATE)) AS ship_year,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,4))))
                    AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name, ship_year
        HAVING COUNT(*) >= 20
        ORDER BY n.n_name, ship_year
        """
    )

