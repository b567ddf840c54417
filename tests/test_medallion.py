"""End-to-end medallion pipeline test: init bronze -> sync wave -> silver
+ gold rebuild -> metadata stamp (ST1-ST4 semantics together)."""

import os

import pandas as pd
import pyspark.sql.functions as F

from wvfoia_sync_spark.foia import sync
from wvfoia_sync_spark.plans.medallion import MedallionPipeline

TODAY = "2026-08-01"


def test_full_pipeline_cycle(spark, fixture_dir, tmp_path):
    root = str(tmp_path / "lake")
    pipe = MedallionPipeline(spark, root, today=TODAY)
    entries = spark.read.parquet(f"{fixture_dir}/entries.parquet")
    pipe.init_bronze(entries)
    pipe.set_dimensions(
        corrections=spark.read.parquet(f"{fixture_dir}/corrections_entries.parquet"),
        aliases=spark.read.parquet(f"{fixture_dir}/agency_aliases.parquet"),
        renames=spark.read.parquet(f"{fixture_dir}/org_renames.parquet"),
    )

    n0 = entries.count()
    old_max = entries.agg(F.max("id")).first()[0]
    source = pd.read_parquet(f"{fixture_dir}/sync_source.parquet")
    result = pipe.sync(sync.mock_fetcher(source), window=64)
    assert result.added == 5

    # bronze grew by exactly the frontier-admitted rows
    assert pipe.bronze().count() == n0 + 5

    # silver was rebuilt over the new bronze (corrections + canon applied)
    sdf = pipe.silver()
    assert sdf.count() == n0 + 5
    assert "agency_slug" in sdf.columns and "search_tokens" in sdf.columns
    # synced rows got canonicalized too (DEP -> canonical)
    synced = sdf.where(F.col("id") > old_max)
    assert synced.where(
        F.col("agency_canonical") == "Department of Environmental Protection"
    ).count() > 0

    # gold tables exist and are consistent with silver
    stats = pipe.gold("agency_stats")
    assert stats.agg(F.sum("requests")).first()[0] == n0 + 5
    home = pipe.gold("home_stats").first()
    assert home["total_requests"] == n0 + 5
    tl = pipe.gold("resolution_timeline")
    assert tl.count() > 300  # dense all-time day spine

    # ST4 metadata stamped
    meta = pipe.meta()
    assert meta["last_updated_at"] == TODAY
    assert meta["last_sync"]["added"] == 5

    # idempotent second sync: nothing new -> no rebuild needed, no growth
    result2 = pipe.sync(sync.mock_fetcher(source), window=64)
    assert result2.added == 0
    assert pipe.bronze().count() == n0 + 5


def test_silver_quality_observed(spark, fixture_dir, tmp_path):
    """rebuild() collects row/null counters via observe() on the silver
    write job itself (no second scan) and stamps them into meta."""
    from wvfoia_sync_spark.plans.medallion import MedallionPipeline

    p = MedallionPipeline(spark, str(tmp_path / "m"), today="2025-06-01")
    p.init_bronze(spark.read.parquet(f"{fixture_dir}/entries.parquet"))
    p.rebuild()
    q = p.last_silver_quality
    assert q["rows"] == p.silver().count() > 0
    assert 0 <= q["null_slug"] <= q["rows"]
    assert 0 <= q["null_request_dt"] <= q["rows"]


# ------------------------------------------------- serving generations ---


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched), counted in a job group."""
    import uuid

    sc = spark.sparkContext
    group = uuid.uuid4().hex
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _built(spark, fixture_dir, root):
    pipe = MedallionPipeline(spark, root, today=TODAY)
    pipe.init_bronze(spark.read.parquet(f"{fixture_dir}/entries.parquet"))
    pipe.rebuild()
    return pipe


def test_same_generation_is_one_object_and_no_jobs(spark, fixture_dir, tmp_path):
    pipe = _built(spark, fixture_dir, str(tmp_path / "lake"))
    for open_ in (pipe.silver, lambda: pipe.gold("agency_stats")):
        first = open_()
        again, jobs = _jobs(spark, open_)
        assert again is first
        assert jobs == 0


def test_sync_swaps_in_the_new_generation(spark, fixture_dir, tmp_path):
    pipe = _built(spark, fixture_dir, str(tmp_path / "lake"))
    old_silver, old_home = pipe.silver(), pipe.gold("home_stats")
    n0 = old_silver.count()
    source = pd.read_parquet(f"{fixture_dir}/sync_source.parquet")
    assert pipe.sync(sync.mock_fetcher(source), window=64).added == 5

    assert pipe.silver() is not old_silver
    assert pipe.silver().count() == n0 + 5
    assert pipe.gold("home_stats").first()["total_requests"] == n0 + 5
    # the pipeline holds one generation: the previous one is released
    for old in (old_silver, old_home):
        assert not old.storageLevel.useMemory and not old.storageLevel.useDisk


def test_foreign_rebuild_is_seen_by_the_next_open(spark, fixture_dir, tmp_path):
    root = str(tmp_path / "lake")
    first = _built(spark, fixture_dir, root)
    old = first.silver()
    n0 = old.count()

    other = MedallionPipeline(spark, root, today=TODAY)
    other.init_bronze(
        spark.read.parquet(f"{fixture_dir}/entries.parquet").where(F.col("id") % 2 == 0)
    )
    other.rebuild()

    now = first.silver()
    assert now is not old
    assert now.count() == other.silver().count() < n0
    assert not old.storageLevel.useMemory and not old.storageLevel.useDisk


def test_concurrent_first_opens_load_once(spark, fixture_dir, tmp_path):
    """More threads than cores race the first open of one generation;
    a check-then-load without the lock would persist it more than once."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from wvfoia_sync_spark.foia import silver as silver_mod

    root = tmp_path / "lake"
    entries = spark.read.parquet(f"{fixture_dir}/entries.parquet")
    silver_mod.write_silver(silver_mod.to_silver(entries), str(root / "silver"))
    pipe = MedallionPipeline(spark, str(root), today=TODAY)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())

    threads = 8
    start = threading.Barrier(threads)

    def open_silver(_):
        start.wait(timeout=60)
        return pipe.silver()

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=threads) as pool:
            got = list(pool.map(open_silver, range(threads), timeout=300))
    finally:
        sys.setswitchinterval(switch)
    assert len(got) == threads and all(df is got[0] for df in got)
    assert len(set(persisted().keys()) - before) == 1


def test_page_queries_run_one_job_over_resident_input(spark, fixture_dir, tmp_path):
    """Count plus the lazy page: the count is the only work inside the
    call, one job over a one-partition generation (no shuffle-map job);
    the page runs when read."""
    from wvfoia_sync_spark.foia import agencies, queries
    from wvfoia_sync_spark.foia.schema import EntrySearchOptions

    pipe = _built(spark, fixture_dir, str(tmp_path / "lake"))
    silver, stats = pipe.silver(), pipe.gold("agency_stats")
    page, jobs = _jobs(
        spark, lambda: queries.list_entries(silver, EntrySearchOptions(resolution=("Granted",)))
    )
    assert jobs == 1
    assert 0 < len(page.rows.collect()) <= page.total
    page, jobs = _jobs(spark, lambda: agencies.agencies_page(stats, term="department"))
    assert jobs == 1
    assert 0 < len(page.rows.collect()) <= page.total


SLUG = "department-of-environmental-protection"


def test_timeline_runs_one_exchange_free_job_over_resident_input(
    spark, fixture_dir, tmp_path
):
    """A generation that fits one scan split is held in one partition,
    so the agency route's timeline + totals needs no Exchange: the
    per-day aggregate, the fold into the date map and the totals all
    run in one job."""
    from wvfoia_sync_spark.foia import agencies

    pipe = _built(spark, fixture_dir, str(tmp_path / "lake"))
    silver = pipe.silver()
    assert silver.rdd.getNumPartitions() == 1
    totals = agencies.timeline_window_totals(
        agencies.resolution_timeline(silver, SLUG, TODAY, days=365)
    )
    rows, jobs = _jobs(spark, totals.collect)
    assert jobs == 1
    assert rows[0]["total"] > 0
    plan = totals._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # covers BroadcastExchange too


def test_agency_route_build_stays_under_its_py4j_round_trip_floor(
    spark, fixture_dir, tmp_path, monkeypatch
):
    """Building and collecting the agency route's timeline + totals over a
    resident generation is a few hundred py4j round trips, not the ~2050
    that per-call call-site capture and a Column tree per bucket made.
    Only this thread's calls count: py4j's finalizer thread sends one
    per Java object that earlier garbage releases, whenever it runs."""
    import threading

    from py4j.java_gateway import GatewayClient

    from wvfoia_sync_spark.foia import agencies

    silver = _built(spark, fixture_dir, str(tmp_path / "lake")).silver()

    def route():
        return agencies.timeline_window_totals(
            agencies.resolution_timeline(silver, SLUG, TODAY, days=365)
        ).collect()

    expected = route()  # warm: first-use lookups are not per request
    calls = []
    send = GatewayClient.send_command
    me = threading.get_ident()

    def counting(self, *args, **kwargs):
        if threading.get_ident() == me:
            calls.append(1)
        return send(self, *args, **kwargs)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    assert route() == expected
    monkeypatch.undo()
    assert expected[0]["total"] > 0
    assert 0 < len(calls) <= 250, len(calls)


def test_agency_feed_runs_one_job_over_resident_input(spark, fixture_dir, tmp_path):
    """The feed reads page 1, which never clamps, so it runs the page job
    alone, with no count job."""
    from wvfoia_sync_spark.foia import rss

    pipe = _built(spark, fixture_dir, str(tmp_path / "lake"))
    silver = pipe.silver()
    name = (
        pipe.gold("agency_stats").where(F.col("agency_slug") == SLUG).first()["agency_canonical"]
    )
    doc, jobs = _jobs(spark, lambda: rss.agency_feed(silver, name, SLUG))
    assert jobs == 1
    assert f"agency-{SLUG}-entry-" in doc


def _serving_results(silver):
    from wvfoia_sync_spark.foia import agencies, queries
    from wvfoia_sync_spark.foia.schema import EntrySearchOptions

    pages = []
    for opts in (
        EntrySearchOptions(),
        EntrySearchOptions(resolution=("Granted",)),
        EntrySearchOptions(agency=SLUG, sort="highest_fee"),
    ):
        page = queries.list_entries(silver, opts)
        pages.append((page.total, [r["id"] for r in page.rows.collect()]))
    timelines = [
        sorted(agencies.resolution_timeline(silver, slug, TODAY, days=days).collect())
        for slug, days in ((SLUG, 365), (None, None))
    ]
    return pages, timelines


def test_generation_larger_than_a_split_keeps_its_partitions(
    spark, fixture_dir, tmp_path
):
    """Below ``spark.sql.files.maxPartitionBytes`` the generation is one
    partition; above it the scan's own split is kept, with the same
    serving results."""
    from wvfoia_sync_spark.plans.medallion import _data_bytes

    root = str(tmp_path / "lake")
    pipe = _built(spark, fixture_dir, root)
    assert pipe.silver().rdd.getNumPartitions() == 1
    expected = _serving_results(pipe.silver())

    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, str(_data_bytes(os.path.join(root, "silver")) // 2))
    try:
        split = MedallionPipeline(spark, root, today=TODAY).silver()
        assert split.rdd.getNumPartitions() > 1
        assert _serving_results(split) == expected
    finally:
        spark.conf.set(key, before)
