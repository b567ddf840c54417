"""DuckDB-differential tests for the FOIA query surface over the silver
table (both engines read the SAME silver parquet — see conftest)."""

import pyspark.sql.functions as F
import pytest

from tests.conftest import assert_frames_equal
from wvfoia_sync_spark.foia import agencies, queries
from wvfoia_sync_spark.foia.schema import EntrySearchOptions, PageCursor

TODAY = "2026-08-01"  # fixtures.TODAY


# ------------------------------------------------------------ list_entries


def _page_ids(page):
    return [r["id"] for r in page.rows.select("id").collect()]


def test_list_default_sort_first_page(silver_df, silver_duck):
    page = queries.list_entries(silver_df, EntrySearchOptions())
    oracle = silver_duck.execute(
        "SELECT id FROM silver ORDER BY id DESC LIMIT 50"
    ).df()
    assert _page_ids(page) == oracle["id"].tolist()
    assert page.total == silver_duck.execute("SELECT count(*) FROM silver").fetchone()[0]


@pytest.mark.parametrize(
    "sort,sql_order",
    [
        ("newest_request", "request_date DESC NULLS LAST, id DESC"),
        ("oldest_request", "request_date ASC NULLS FIRST, id ASC"),
        ("newest_completion", "completion_date DESC NULLS LAST, id DESC"),
        ("highest_fee", "fee_amount DESC NULLS LAST, id DESC"),
    ],
)
def test_list_sorts(silver_df, silver_duck, sort, sql_order):
    page = queries.list_entries(silver_df, EntrySearchOptions(sort=sort))
    oracle = silver_duck.execute(
        f"SELECT id FROM silver ORDER BY {sql_order} LIMIT 50"
    ).df()
    assert _page_ids(page) == oracle["id"].tolist()


def test_list_combined_filters(silver_df, silver_duck):
    opts = EntrySearchOptions(
        resolution=("Granted", "Rejected"),
        date_from="2025-06-01",
        date_to="2026-08-01",
        sort="newest_request",
    )
    page = queries.list_entries(silver_df, opts)
    oracle = silver_duck.execute(
        """
        SELECT id FROM silver
        WHERE resolution IN ('Granted', 'Rejected')
          AND request_date >= '2025-06-01' AND request_date <= '2026-08-01'
        ORDER BY request_date DESC NULLS LAST, id DESC LIMIT 50
        """
    ).df()
    assert _page_ids(page) == oracle["id"].tolist()
    total = silver_duck.execute(
        """
        SELECT count(*) FROM silver
        WHERE resolution IN ('Granted', 'Rejected')
          AND request_date >= '2025-06-01' AND request_date <= '2026-08-01'
        """
    ).fetchone()[0]
    assert page.total == total


def test_agency_filter_merges_aliases(silver_df, silver_duck):
    """Filtering by an alias spelling returns every row of the canonical
    agency (the reference expands aliases; silver pre-canonicalizes)."""
    page = queries.list_entries(
        silver_df, EntrySearchOptions(agency="dep"), aliases_map={
            "dep": "Department of Environmental Protection"
        }
    )
    total = silver_duck.execute(
        "SELECT count(*) FROM silver WHERE agency_canonical = 'Department of Environmental Protection'"
    ).fetchone()[0]
    assert page.total == total > 0
    # raw spellings in the matched set must include multiple variants
    variants = silver_duck.execute(
        "SELECT count(DISTINCT agency) FROM silver WHERE agency_canonical = 'Department of Environmental Protection'"
    ).fetchone()[0]
    assert variants >= 2


def test_fts_search_and_prefix(silver_df, silver_duck):
    page = queries.list_entries(silver_df, EntrySearchOptions(search="Budget payrol"))
    oracle = silver_duck.execute(
        """
        WITH toks AS (
          SELECT id, list_filter(regexp_split_to_array(lower(
            concat_ws(' ', coalesce(agency,''), coalesce(organization,''),
              coalesce(first_name,''), coalesce(last_name,''), coalesce(subject,''),
              coalesce(details,''), coalesce(resolution,''), coalesce(response,''))),
            '[^a-z0-9]+'), t -> t <> '') AS t
          FROM silver
        )
        SELECT count(*) FROM toks
        WHERE len(list_filter(t, x -> x LIKE 'budget%')) > 0
          AND len(list_filter(t, x -> x LIKE 'payrol%')) > 0
        """
    ).fetchone()[0]
    assert page.total == oracle > 0


def test_fts_match_many_terms_linear_and_correct(spark):
    """The multi-term bitmask fold must stay LINEAR in term count (the
    r13 form referenced the accumulator in both when-branches, doubling
    the tree per term: 16 terms OOMed the driver — ADVICE r13) and must
    survive >=32 terms (int32 mask overflow) and >63 terms (long mask
    chunking)."""
    import time

    from wvfoia_sync_spark.functions.text import fts_match, tokens

    terms = [f"tok{i:02d}word" for i in range(70)]
    rows = [
        (0, " ".join(terms)),  # all 70 -> match
        (1, " ".join(terms[:-1])),  # one missing -> no match
        (2, " ".join(t[:5] for t in terms)),  # prefixes only -> no match
    ]
    df = spark.createDataFrame(rows, "i long, body string")
    query = " ".join(terms)
    t0 = time.time()
    got = (
        df.select("i", fts_match(tokens("body"), query).alias("m"))
        .orderBy("i")
        .collect()
    )
    elapsed = time.time() - t0
    assert [r["m"] for r in got] == [True, False, False]
    # the exponential form never finished 16 terms; 70 must be quick
    assert elapsed < 60.0


def test_page_clamp(silver_df):
    page = queries.list_entries(
        silver_df, EntrySearchOptions(), PageCursor(page=10_000)
    )
    assert page.page == page.total_pages
    assert 0 < page.rows.count() <= 50
    empty = queries.list_entries(
        silver_df, EntrySearchOptions(search="zzzznonexistent")
    )
    assert empty.total == 0 and empty.total_pages == 1 and empty.page == 1


def test_corrections_change_results(silver_df, spark, fixture_dir):
    """A patched request_date must move its row into a filter range that
    the raw date misses (FIXTURES.md §2)."""
    raw = spark.read.parquet(f"{fixture_dir}/entries.parquet")
    corr = spark.read.parquet(f"{fixture_dir}/corrections_entries.parquet")
    patched_ids = [
        r["id"] for r in corr.where(F.col("request_date") == "2026-07-15").collect()
    ]
    assert patched_ids
    silver_rows = (
        silver_df.where(F.col("id").isin(patched_ids))
        .select("id", "request_date")
        .collect()
    )
    assert all(r["request_date"] == "2026-07-15" for r in silver_rows)
    raw_rows = raw.where(F.col("id").isin(patched_ids)).select("request_date").collect()
    assert any(r["request_date"] != "2026-07-15" for r in raw_rows)


# ------------------------------------------------------- point lookups etc.


def test_get_entry_and_watermark(silver_df, silver_duck):
    max_id = silver_duck.execute("SELECT max(id) FROM silver").fetchone()[0]
    assert queries.latest_entry_id(silver_df) == max_id
    row = queries.get_entry(silver_df, max_id).first()
    assert row["id"] == max_id


def test_latest_snapshot(silver_df, silver_duck):
    snap = queries.latest_entries_snapshot(silver_df)
    oracle = silver_duck.execute(
        """
        SELECT id FROM silver
        WHERE entry_date IS NOT NULL AND entry_date <> ''
          AND entry_date = (SELECT max(entry_date) FROM silver
                            WHERE entry_date IS NOT NULL AND entry_date <> '')
        ORDER BY id DESC
        """
    ).df()
    assert [r["id"] for r in snap.select("id").collect()] == oracle["id"].tolist()
    assert len(oracle) >= 3  # planted snapshot rows


def test_resolutions(silver_df, silver_duck):
    assert_frames_equal(
        queries.distinct_resolutions(silver_df),
        silver_duck.execute(
            "SELECT DISTINCT resolution FROM silver WHERE resolution IS NOT NULL AND resolution <> ''"
        ).df(),
    )
    assert_frames_equal(
        queries.resolution_counts(silver_df),
        silver_duck.execute(
            "SELECT resolution, count(*) AS n FROM silver WHERE resolution IS NOT NULL AND resolution <> '' GROUP BY resolution"
        ).df(),
    )


# ------------------------------------------------------------- home stats


def test_home_stats(silver_df, silver_duck):
    got = queries.home_stats(silver_df, TODAY)
    oracle = silver_duck.execute(
        f"""
        WITH base AS (
          SELECT request_dt AS req, completion_dt AS comp,
                 CASE WHEN request_dt IS NOT NULL AND completion_dt IS NOT NULL
                       AND year(completion_dt) <= year(DATE '{TODAY}')
                       AND datediff('day', request_dt, completion_dt) >= 0
                      THEN datediff('day', request_dt, completion_dt) END AS resp
          FROM silver
        )
        SELECT count(*) AS total_requests,
               count(CASE WHEN req >= DATE '{TODAY}' - 30 THEN 1 END) AS requests_30d,
               count(CASE WHEN req >= DATE '{TODAY}' - 90 THEN 1 END) AS requests_90d,
               count(CASE WHEN req >= DATE '{TODAY}' - 365 THEN 1 END) AS requests_365d,
               count(resp) AS responded,
               CAST(sum(resp) AS DOUBLE) / count(resp) AS avg_response_days,
               CAST(sum(CASE WHEN req >= DATE '{TODAY}' - 30 THEN resp END) AS DOUBLE)
                 / count(CASE WHEN req >= DATE '{TODAY}' - 30 THEN resp END) AS avg_response_days_30d,
               CAST(sum(CASE WHEN req >= DATE '{TODAY}' - 90 THEN resp END) AS DOUBLE)
                 / count(CASE WHEN req >= DATE '{TODAY}' - 90 THEN resp END) AS avg_response_days_90d,
               CAST(sum(CASE WHEN req >= DATE '{TODAY}' - 365 THEN resp END) AS DOUBLE)
                 / count(CASE WHEN req >= DATE '{TODAY}' - 365 THEN resp END) AS avg_response_days_365d
        FROM base
        """
    ).df()
    assert_frames_equal(got, oracle)


# ----------------------------------------------------------- agency stats


def test_agency_stats_metrics(silver_df, silver_duck):
    got = agencies.agency_stats(silver_df, TODAY).select(
        "agency_slug", "requests", "requests_365d", "responded",
        "response_days_sum", "avg_response_days",
    )
    oracle = silver_duck.execute(
        f"""
        WITH base AS (
          SELECT agency_slug,
                 CASE WHEN request_dt IS NOT NULL AND completion_dt IS NOT NULL
                       AND year(completion_dt) <= year(DATE '{TODAY}')
                       AND datediff('day', request_dt, completion_dt) >= 0
                      THEN datediff('day', request_dt, completion_dt) END AS resp,
                 request_dt AS req
          FROM silver
        )
        SELECT agency_slug,
               count(*) AS requests,
               count(CASE WHEN req >= DATE '{TODAY}' - 365 THEN 1 END) AS requests_365d,
               count(resp) AS responded,
               CAST(coalesce(sum(resp), 0) AS BIGINT) AS response_days_sum,
               CAST(sum(resp) AS DOUBLE) / count(resp) AS avg_response_days
        FROM base GROUP BY agency_slug
        """
    ).df()
    # response_days_sum: Spark sum() over empty/all-null when-groups yields
    # NULL cast to long; DuckDB coalesced to 0 — align by filling 0.
    import pandas as pd

    g = got.toPandas()
    g["response_days_sum"] = g["response_days_sum"].astype("float").fillna(0).astype("int64")
    assert_frames_equal(g, oracle)


def test_agencies_page_term_filter_and_sort(silver_df, silver_duck):
    stats = agencies.agency_stats(silver_df, TODAY)
    page = agencies.agencies_page(stats, term="department", sort="most_requests")
    rows = page.rows.select("agency_slug", "requests").collect()
    oracle = silver_duck.execute(
        """
        SELECT agency_slug, count(*) AS requests FROM silver
        GROUP BY agency_slug
        HAVING instr(lower(concat(max(agency_canonical), ' ', agency_slug)), 'department') > 0
        ORDER BY requests DESC, agency_slug ASC
        """
    ).df()
    assert [(r["agency_slug"], r["requests"]) for r in rows] == list(
        oracle.itertuples(index=False, name=None)
    )


# --------------------------------------------------------------- timeline


def test_timeline_gap_fill_and_totals(silver_df, silver_duck):
    tl = agencies.resolution_timeline(silver_df, None, TODAY, days=90)
    pdf = tl.toPandas().sort_values("date").reset_index(drop=True)
    assert len(pdf) == 90  # dense spine: every day present
    assert str(pdf["date"].iloc[-1]) == TODAY
    oracle = silver_duck.execute(
        f"""
        SELECT count(*) FROM silver
        WHERE completion_dt IS NOT NULL
          AND completion_dt BETWEEN DATE '{TODAY}' - 89 AND DATE '{TODAY}'
          AND lower(trim(coalesce(resolution, ''))) = 'granted'
        """
    ).fetchone()[0]
    assert int(pdf["granted"].sum()) == oracle
    totals = agencies.timeline_window_totals(tl).first()
    assert totals["granted"] == oracle
    bucket_sum = sum(
        totals[b] for b in ["granted", "granted_in_part", "exempted", "rejected", "other"]
    )
    assert totals["total"] == bucket_sum
    if totals["total"] > 0:
        assert abs(totals["granted_pct"] - totals["granted"] / totals["total"]) < 1e-12


def test_timeline_agency_scoped_all_time(silver_df, silver_duck):
    slug = "department-of-environmental-protection"
    tl = agencies.resolution_timeline(silver_df, slug, TODAY, days=None)
    pdf = tl.toPandas()
    lo, n = silver_duck.execute(
        f"""
        SELECT min(completion_dt), count(*) FROM silver
        WHERE agency_slug = '{slug}' AND completion_dt IS NOT NULL
          AND completion_dt <= DATE '{TODAY}'
        """
    ).fetchone()
    assert str(pdf["date"].min()) == str(lo)
    assert int(pdf[["granted", "granted_in_part", "exempted", "rejected", "other"]].to_numpy().sum()) == n


BUCKETS = ["granted", "granted_in_part", "exempted", "rejected", "other"]


def test_timeline_empty_selection(silver_df):
    """No matching rows: all-time has no range (0 rows); a fixed window
    still lists every day, with zero counts."""
    none = agencies.resolution_timeline(silver_df, "no-such-agency", TODAY, days=None)
    assert none.count() == 0
    rows = agencies.resolution_timeline(silver_df, "no-such-agency", TODAY, days=30).collect()
    assert len(rows) == 30
    assert str(max(r["date"] for r in rows)) == TODAY
    assert all(r[b] == 0 for r in rows for b in BUCKETS)


def test_timeline_gap_days_match_duckdb_spine_join(silver_df, silver_duck):
    """All-time timeline of one agency, row for row against a DuckDB
    generate_series spine LEFT JOIN the per-day bucket counts."""
    slug = "department-of-environmental-protection"
    got = [
        (str(r["date"]), *(r[b] for b in BUCKETS))
        for r in agencies.resolution_timeline(silver_df, slug, TODAY, days=None)
        .orderBy("date")
        .collect()
    ]
    oracle = silver_duck.execute(
        f"""
        WITH sel AS (
          SELECT completion_dt AS d,
                 CASE lower(trim(resolution))
                   WHEN 'granted' THEN 'granted'
                   WHEN 'granted in part' THEN 'granted_in_part'
                   WHEN 'exempted' THEN 'exempted'
                   WHEN 'rejected' THEN 'rejected'
                   ELSE 'other' END AS b
          FROM silver
          WHERE agency_slug = '{slug}' AND completion_dt IS NOT NULL
            AND completion_dt <= DATE '{TODAY}'
        ), spine AS (
          SELECT CAST(unnest(generate_series(min(d), DATE '{TODAY}', INTERVAL 1 DAY)) AS DATE) AS d
          FROM sel
        ), agg AS (
          SELECT d, {", ".join(f"count(*) FILTER (WHERE b = '{b}') AS {b}" for b in BUCKETS)}
          FROM sel GROUP BY d
        )
        SELECT strftime(s.d, '%Y-%m-%d'),
               {", ".join(f"CAST(coalesce(a.{b}, 0) AS BIGINT)" for b in BUCKETS)}
        FROM spine s LEFT JOIN agg a ON s.d = a.d ORDER BY s.d
        """
    ).fetchall()
    assert got == [tuple(r) for r in oracle]
    # the slug really has gap days, so the zero fill is exercised
    assert any(sum(r[1:]) == 0 for r in got)


def test_fts_diacritic_fold(silver_df):
    """FTS5 unicode61 remove_diacritics parity: 'cafe' finds 'café'."""
    with_accent = queries.list_entries(silver_df, EntrySearchOptions(search="café"))
    without = queries.list_entries(silver_df, EntrySearchOptions(search="cafe"))
    assert without.total == with_accent.total > 0
