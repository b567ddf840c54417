"""serve_zipf: the app read path over one medallion pipeline.

Input: ``fixtures.make_entries(N_ENTRIES, seed)`` plus the alias and
rename dimensions, built once into a ``MedallionPipeline``. Load: a
closed loop with one client over a seeded request stream. The route mix
is fixed: every block of seven requests holds each route once; within a
route the keys follow a Zipf law (exponent 1), so popular pages repeat as
real traffic does. No access statistics of the reference app exist to
fit either to: the equal mix, the exponent and the key catalogs below
(``_catalogs``) are assumptions, chosen as the least specific ones, and
a traced run reports the repeat share they produce.
Every request opens silver and gold through the pipeline accessors, as a
server must, because ``sync()`` swaps the directories underneath it.

Each response is reduced to a digest (counts and ids). After the timed
window every distinct key is recomputed once in DuckDB over the same
silver/gold parquet; a request whose digest differs counts as failed.
Traced runs then run one daily cycle (``sync()`` and the exports) so the
write-path layers are measured too.
"""

from __future__ import annotations

import contextlib
import math
import random
import re
import sqlite3
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import duckdb
import pyspark.sql.functions as F

import harness
from wvfoia_sync_spark.foia import agencies, export, fixtures, queries, rss, silver, sync
from wvfoia_sync_spark.foia.schema import PAGE_SIZE, EntrySearchOptions, PageCursor
from wvfoia_sync_spark.plans import medallion
from wvfoia_sync_spark.plans.medallion import MedallionPipeline

N_ENTRIES = 10_000
TODAY = fixtures.TODAY.isoformat()
TIMELINE_DAYS = 365
STREAM_LEN = 4000
WARM_THREADS = 4
WARM_BLOCKS = 3  # untimed blocks of requests after the first of each route
ROUTE_WEIGHTS = dict.fromkeys(
    ("list", "entry", "agencies", "agency", "home_feed", "agency_feed", "home_stats"), 1
)
SORTS = ("newest_entry", "newest_request", "oldest_request", "newest_completion", "highest_fee")
SEARCH_TERMS = ("budg", "payroll", "cafe", "permit", "email police")
RESOLUTION_SETS = (("Granted", "granted"), ("Rejected",), ("Exempted", "Withdrawn"))
DATE_RANGES = (("2025-01-01", None), (None, "2025-06-30"), ("2025-03-01", "2025-12-31"))
AGENCY_SORTS = ("most_requests", "least_requests", "highest_avg_response", "lowest_avg_response")
AGENCY_TERMS = (None, "department", "county", "of")
GUID_RE = re.compile(r"-entry-(\d+)</guid>")


def _lit(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


class Workload:
    unit = sum(ROUTE_WEIGHTS.values())  # ops per block: the fixed route mix
    unit_s = 2.5  # nominal seconds per block on 4 cores

    def __init__(self, spark, run_dir: Path, seed: int, tracer: harness.Tracer):
        self.spark = spark
        self.seed = seed
        self.t = tracer
        self.root = run_dir / "medallion"
        self.exports = run_dir / "exports"
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.responses: dict[tuple, dict] = {}  # (route, key) -> {digest: count}
        self.traced_rows = 0  # rows returned by traced requests

    # ------------------------------------------------------------ set-up ---
    def prepare(self) -> None:
        spark = self.spark
        self.entries = fixtures.make_entries(N_ENTRIES, self.seed)
        self.aliases = spark.createDataFrame(fixtures.make_agency_aliases())
        self.renames = spark.createDataFrame(fixtures.make_org_renames())
        self.pipe = MedallionPipeline(spark, str(self.root), today=TODAY)
        self.pipe.init_bronze(spark.createDataFrame(self.entries))
        self.pipe.rebuild(aliases=self.aliases, renames=self.renames)

        self.duck = duckdb.connect()
        self.duck.execute(
            "CREATE VIEW bronze AS SELECT * FROM read_parquet("
            f"{_lit(str(self.root / 'bronze' / '*.parquet'))})"
        )
        self.duck.execute(
            "CREATE VIEW silver AS SELECT * FROM read_parquet("
            f"{_lit(str(self.root / 'silver' / '**' / '*.parquet'))}, hive_partitioning=true)"
        )
        for g in ("agency_stats", "home_stats"):
            self.duck.execute(
                f"CREATE VIEW {g} AS SELECT * FROM read_parquet("
                f"{_lit(str(self.root / 'gold' / g / '*.parquet'))})"
            )
        agencies_ = self.duck.execute(
            "SELECT agency_canonical, agency_slug FROM agency_stats "
            "WHERE agency_slug IS NOT NULL ORDER BY agency_slug"
        ).fetchall()
        self.slug_of = dict(agencies_)
        self.stream = harness.key_stream(
            self._catalogs([a for a, _ in agencies_]), ROUTE_WEIGHTS, STREAM_LEN, self.seed
        )

    def _catalogs(self, names: list[str]) -> dict[str, list]:
        """Every key a route can take, except ``list``: its filter space is
        too large to rank, so it is 40 seeded combinations of the options."""
        rng = random.Random(self.seed)
        lists = set()
        while len(lists) < 40:
            lists.add((
                rng.choice([None, *names]),
                rng.choice([(), (), *RESOLUTION_SETS]),
                *rng.choice([(None, None), (None, None), *DATE_RANGES]),
                rng.choice([None, None, *SEARCH_TERMS]),
                rng.choice(SORTS),
                rng.choice([1, 1, 2, 3]),
            ))
        return {
            "list": sorted(lists, key=repr),
            "entry": sorted(self.entries["id"].tolist()),
            "agencies": [(t, s) for t in AGENCY_TERMS for s in AGENCY_SORTS],
            "agency": sorted(self.slug_of.values()),
            "home_feed": [None],
            "agency_feed": names,
            "home_stats": [None],
        }

    def warm(self) -> None:
        """One request per route, then ``WARM_BLOCKS`` blocks from the end
        of the stream (which no window reaches), each checked against
        DuckDB. Without the blocks the JVM was still compiling during the
        window: its first block read 10-80% slower than its last. The
        requests run concurrently only to shorten set-up."""
        keys = [(r, next(k for rr, k in self.stream if rr == r)) for r in ROUTE_WEIGHTS]
        keys += self.stream[-WARM_BLOCKS * self.unit:]
        with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
            futures = [pool.submit(self._serve, r, k) for r, k in keys]
        for (route, key), fut in zip(keys, futures):
            self.attempted += 1
            try:
                got, _rows = fut.result()
            except Exception:
                self._fail(f"warm {route} {key!r}: {traceback.format_exc(limit=3)}")
                continue
            want = self.expected(route, key)
            if got != want:
                self._fail(f"warm {route} {key!r}: {got!r} != {want!r}")

    def traced_extra(self) -> None:
        """Traced runs only, after the traced window: one daily cycle,
        ``sync()`` (probe, bronze swap, silver, gold) then the exports,
        so the write-path layers are measured too. Checked like every op."""
        t = self.t
        self.pipe.set_dimensions(aliases=self.aliases, renames=self.renames)
        self.exports.mkdir()
        source = fixtures.make_sync_source(int(self.entries["id"].max()) + 1, self.seed)
        with t.span("cycle", root=True):
            self.sync_result = self.pipe.sync(sync.mock_fetcher(source))
            bronze = self.pipe.bronze()
            state = str(self.exports / "watermark.json")
            with t.span("foia.export.watermark"):
                self.export_needed = export.should_export(bronze, state)
            with t.span("foia.export.export_sql"):
                self.sql_rows = export.export_sql(bronze, str(self.exports / "entries.sql"))
            with t.span("foia.export.export_sqlite"):
                self.sqlite_rows = export.export_sqlite(bronze, str(self.exports / "entries.db"))
            with t.span("foia.export.watermark"):
                export.write_watermark(bronze, state)
        self.attempted += 1
        self._check_cycle()

    def _check_cycle(self) -> None:
        """The cycle added the source's 5 found pages, and bronze, gold
        ``agency_stats``, the .sql dump and the sqlite file all hold the
        same number of rows."""
        want = len(self.entries) + 5
        q = self.duck.execute
        with contextlib.closing(sqlite3.connect(self.exports / "entries.db")) as con:
            sqlite_count = con.execute("SELECT count(*) FROM entries").fetchone()[0]
        got = {
            "added": self.sync_result.added + len(self.entries),
            "bronze": q("SELECT count(*) FROM bronze").fetchone()[0],
            "gold": q("SELECT sum(requests) FROM agency_stats").fetchone()[0],
            "export_sql": self.sql_rows,
            "export_sqlite": self.sqlite_rows,
            "sqlite_count": sqlite_count,
        }
        if not self.export_needed or any(v != want for v in got.values()):
            self._fail(f"sync cycle: want {want} rows everywhere, got {got}")

    def _fail(self, why: str) -> None:
        self.failed += 1
        self.failures.append(why)

    # ----------------------------------------------------------- requests ---
    def run_op(self, i: int) -> tuple[object, bool]:
        route, key = self.stream[i % len(self.stream)]
        try:
            with self.t.span("op", root=True, route=route):
                digest, rows = self._serve(route, key)
        except Exception:
            self.failures.append(f"{route} {key!r}: {traceback.format_exc(limit=3)}")
            return (route, key), False
        if self.t.enabled:
            self.traced_rows += rows
        seen = self.responses.setdefault((route, key), {})
        seen[digest] = seen.get(digest, 0) + 1
        return (route, key), True

    def _serve(self, route: str, key) -> tuple[tuple, int]:
        """(digest, rows returned) of one request."""
        return getattr(self, f"_r_{route}")(key)

    def _silver(self):
        with self.t.span("plans.medallion.open"):
            return self.pipe.silver()

    def _gold(self, name: str):
        with self.t.span("plans.medallion.open"):
            return self.pipe.gold(name)

    def _r_list(self, key) -> tuple[tuple, int]:
        agency, res, dfrom, dto, search, sort, page = key
        opts = EntrySearchOptions(
            search=search, agency=agency, resolution=res,
            date_from=dfrom, date_to=dto, sort=sort,
        )
        p = queries.list_entries(self._silver(), opts, PageCursor(page=page))
        ids = tuple(r["id"] for r in p.rows.collect())
        return ("list", p.total, p.page, ids), len(ids)

    def _r_entry(self, eid: int) -> tuple[tuple, int]:
        silver = self._silver()
        with self.t.span("foia.queries.get_entry"):
            rows = queries.get_entry(silver, eid).collect()
        return ("entry", tuple(r["id"] for r in rows)), len(rows)

    def _r_agencies(self, key) -> tuple[tuple, int]:
        term, sort = key
        p = agencies.agencies_page(self._gold("agency_stats"), term, sort)
        slugs = tuple(r["agency_slug"] for r in p.rows.collect())
        return ("agencies", p.total, slugs), len(slugs)

    def _r_agency(self, slug: str) -> tuple[tuple, int]:
        stats = self._gold("agency_stats")
        silver = self._silver()
        row = stats.where(F.col("agency_slug") == slug).collect()
        with self.t.span("foia.agencies.resolution_timeline"):
            tl = agencies.resolution_timeline(silver, slug, TODAY, days=TIMELINE_DAYS)
            totals = agencies.timeline_window_totals(tl).collect()
        digest = ("agency", tuple(r["requests"] for r in row), totals[0]["total"])
        return digest, len(row) + len(totals)

    def _r_home_feed(self, _key) -> tuple[tuple, int]:
        silver = self._silver()
        with self.t.span("foia.queries.latest_entries_snapshot"):
            rows = queries.latest_entries_snapshot(silver).collect()
        xml = rss.home_feed(rows)
        ids = tuple(r["id"] for r in rows[: rss.HOME_FEED_LIMIT])
        return ("home_feed", ids, xml.count("<item>")), len(rows)

    def _r_agency_feed(self, name: str) -> tuple[tuple, int]:
        xml = rss.agency_feed(self._silver(), name, self.slug_of[name])
        ids = tuple(int(x) for x in GUID_RE.findall(xml))
        return ("agency_feed", ids), len(ids)

    def _r_home_stats(self, _key) -> tuple[tuple, int]:
        row = self._gold("home_stats").collect()
        return ("home_stats", row[0]["total_requests"]), len(row)

    # ------------------------------------------------------------ checks ---
    def _ids(self, sql: str) -> tuple:
        return tuple(r[0] for r in self.duck.execute(sql).fetchall())

    def expected(self, route: str, key) -> tuple:
        """The digest of ``route``/``key`` recomputed in DuckDB."""
        q = self.duck.execute
        if route == "list":
            agency, res, dfrom, dto, search, sort, page = key
            preds = ["true"]
            if agency:
                preds.append(f"lower(trim(agency_canonical)) = {_lit(agency.strip().lower())}")
            if res:
                preds.append(f"resolution IN ({', '.join(_lit(r) for r in res)})")
            if dfrom:
                preds.append(f"request_date >= {_lit(dfrom)}")
            if dto:
                preds.append(f"request_date <= {_lit(dto)}")
            for term in (search or "").split():
                preds.append(
                    f"len(list_filter(search_tokens, t -> starts_with(t, {_lit(term)}))) > 0"
                )
            where = " AND ".join(preds)
            order = {
                "newest_request": "request_date DESC NULLS LAST, id DESC",
                "oldest_request": "request_date ASC NULLS FIRST, id ASC",
                "newest_completion": "completion_date DESC NULLS LAST, id DESC",
                "highest_fee": "fee_amount DESC NULLS LAST, id DESC",
            }.get(sort, "id DESC")
            total = q(f"SELECT count(*) FROM silver WHERE {where}").fetchone()[0]
            page = max(1, min(page, max(1, math.ceil(total / PAGE_SIZE))))
            ids = self._ids(
                f"SELECT id FROM silver WHERE {where} ORDER BY {order} "
                f"LIMIT {PAGE_SIZE} OFFSET {(page - 1) * PAGE_SIZE}"
            )
            return ("list", total, page, ids)
        if route == "entry":
            return ("entry", self._ids(f"SELECT id FROM silver WHERE id = {int(key)}"))
        if route == "agencies":
            term, sort = key
            preds = ["true"] + [
                "instr(lower(concat_ws(' ', agency_canonical, agency_slug)), "
                f"{_lit(tok)}) > 0"
                for tok in (term or "").lower().split()
            ]
            order = {
                "least_requests": "requests ASC",
                "highest_avg_response": "avg_response_days DESC NULLS LAST",
                "lowest_avg_response": "avg_response_days ASC NULLS LAST",
            }.get(sort, "requests DESC")
            where = " AND ".join(preds)
            total = q(f"SELECT count(*) FROM agency_stats WHERE {where}").fetchone()[0]
            slugs = self._ids(
                f"SELECT agency_slug FROM agency_stats WHERE {where} "
                f"ORDER BY {order}, agency_slug ASC LIMIT {PAGE_SIZE}"
            )
            return ("agencies", total, slugs)
        if route == "agency":
            requests = self._ids(
                f"SELECT requests FROM agency_stats WHERE agency_slug = {_lit(key)}"
            )
            total = q(
                f"SELECT count(*) FROM silver WHERE agency_slug = {_lit(key)} "
                f"AND completion_dt <= DATE {_lit(TODAY)} AND completion_dt >= "
                f"DATE {_lit(TODAY)} - INTERVAL {TIMELINE_DAYS - 1} DAY"
            ).fetchone()[0]
            return ("agency", requests, total)
        if route == "home_feed":
            ids = self._ids(
                "SELECT id FROM silver WHERE entry_date = (SELECT max(entry_date) "
                "FROM silver WHERE entry_date <> '') ORDER BY id DESC"
            )
            return ("home_feed", ids[: rss.HOME_FEED_LIMIT], min(len(ids), rss.HOME_FEED_LIMIT))
        if route == "agency_feed":
            return ("agency_feed", self._ids(
                "SELECT id FROM silver WHERE lower(trim(agency_canonical)) = "
                f"{_lit(key.strip().lower())} ORDER BY id DESC LIMIT {rss.AGENCY_FEED_LIMIT}"
            ))
        if route == "home_stats":
            return ("home_stats", q("SELECT count(*) FROM silver").fetchone()[0])
        raise KeyError(route)

    def verify(self) -> None:
        """Each distinct key once against DuckDB; every request of a key
        whose digest differs counts as failed."""
        for (route, key), digests in self.responses.items():
            want = self.expected(route, key)
            for got, n in digests.items():
                if got != want:
                    self.failed += n
                    self.failures.append(f"{n}x {route} {key!r}: {got!r} != {want!r}")

    # ----------------------------------------------------------- metrics ---
    def space_amp(self) -> float:
        """Bytes of the pipeline root per bronze byte."""
        return harness.tree_bytes(str(self.root)) / harness.tree_bytes(str(self.root / "bronze"))

    def wrap(self, tracer: harness.Tracer) -> None:
        tracer.wrap(MedallionPipeline, "sync", "plans.medallion.sync")
        tracer.wrap(MedallionPipeline, "rebuild", "plans.medallion.rebuild")
        tracer.wrap(medallion, "run_sync", "foia.sync.run_sync")
        tracer.wrap(silver, "write_silver", "foia.silver.write_silver")
        tracer.wrap(queries, "list_entries", "foia.queries.list_entries")
        tracer.wrap(agencies, "agencies_page", "foia.agencies.agencies_page")
        tracer.wrap(rss, "home_feed", "foia.rss.render")
        tracer.wrap(rss, "agency_feed", "foia.rss.render")

    def layer_metrics(
        self, view: harness.TraceView, ops: list[harness.Op], traced_ops: list[harness.Op]
    ) -> dict:
        """The layers this workload calls; each must have recorded spans."""
        tail = harness.tail_percentile([o.seconds * 1000 for o in ops])
        if tail is None:
            raise ValueError(f"{len(ops)} untimed-layer requests leave no tail percentile")
        input_rows = sum(j.input_rows for j in view.op_jobs())
        return {
            "serve.tail_ms": tail[1],
            "plans.medallion.open_ms": view.mean_ms("plans.medallion.open"),
            "plans.medallion.open_jobs": view.mean_jobs("plans.medallion.open"),
            "foia.queries.list_entries_ms": view.mean_ms("foia.queries.list_entries"),
            "foia.queries.list_entries_jobs": view.mean_jobs("foia.queries.list_entries"),
            "foia.queries.get_entry_ms": view.mean_ms("foia.queries.get_entry"),
            "foia.queries.latest_entries_snapshot_ms": view.mean_ms(
                "foia.queries.latest_entries_snapshot"
            ),
            "foia.agencies.agencies_page_ms": view.mean_ms("foia.agencies.agencies_page"),
            "foia.agencies.resolution_timeline_ms": view.mean_ms(
                "foia.agencies.resolution_timeline"
            ),
            "foia.rss.render_ms": view.self_ms("foia.rss.render"),
            # what an untimed-layer run's window replays
            "serve.repeat_share": harness.repeat_share(self.stream[: len(ops)]),
            **self._cycle_metrics(view),
            "serve.input_rows_per_row_returned": input_rows / max(1, self.traced_rows),
        }

    def _cycle_metrics(self, view: harness.TraceView) -> dict:
        """Write-path layers of the traced daily cycle."""
        jobs = view.jobs(view.named("cycle")[0])
        export_bytes = harness.tree_bytes(str(self.exports))
        return {
            "foia.sync.run_sync_s": view.total_s("foia.sync.run_sync"),
            "foia.sync.probe_useful_ratio": self.sync_result.added / self.sync_result.checked,
            "plans.medallion.bronze_swap_s": view.total_s("plans.medallion.sync", self_time=True),
            "plans.medallion.gold_s": view.total_s("plans.medallion.rebuild", self_time=True),
            "foia.silver.write_silver_s": view.total_s("foia.silver.write_silver"),
            "foia.export.export_sql_s": view.total_s("foia.export.export_sql"),
            "foia.export.export_sqlite_s": view.total_s("foia.export.export_sqlite"),
            "foia.export.watermark_s": view.total_s("foia.export.watermark"),
            "sync.bytes_written": sum(j.output_bytes for j in jobs) + export_bytes,
            "sync.jobs": len(jobs),
            "sync.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
            "sync.gc_ms": sum(j.gc_ms for j in jobs),
        }

    def close(self) -> None:
        if hasattr(self, "duck"):
            self.duck.close()
