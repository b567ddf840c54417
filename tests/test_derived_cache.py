"""Derived-state cache contract (sources/derived.py): content-keyed
paths invalidate on source regeneration, and publication is
rename-if-absent (losers never delete the shared final path)."""

from __future__ import annotations

import os
import time

from wvfoia_sync_spark.sources import derived


def _touch(path: str, data: bytes) -> None:
    with open(path, "wb") as f:
        f.write(data)


def test_fingerprint_changes_when_source_regenerated(tmp_path):
    src = tmp_path / "events.parquet"
    _touch(str(src), b"aaaa")
    p1 = derived.derived_path("t_kind", str(tmp_path), fingerprint_of=[str(src)])
    # same content identity -> same path (cache hit across calls)
    assert p1 == derived.derived_path(
        "t_kind", str(tmp_path), fingerprint_of=[str(src)]
    )
    # regenerate in place: size change -> new path (no stale serve)
    _touch(str(src), b"bbbbbbbb")
    p2 = derived.derived_path("t_kind", str(tmp_path), fingerprint_of=[str(src)])
    assert p2 != p1
    # mtime-only change (same size) also invalidates
    os.utime(str(src), ns=(1, 999_999_999_000))
    p3 = derived.derived_path("t_kind", str(tmp_path), fingerprint_of=[str(src)])
    assert p3 not in (p1, p2)


def test_fingerprint_walks_directories(tmp_path):
    d = tmp_path / "table.parquet"
    d.mkdir()
    _touch(str(d / "part-0.parquet"), b"x" * 10)
    fp1 = derived.content_fingerprint(str(d))
    _touch(str(d / "part-1.parquet"), b"y" * 10)  # new file -> new identity
    assert derived.content_fingerprint(str(d)) != fp1


def test_publish_is_rename_if_absent(tmp_path):
    final = str(tmp_path / "artifact_abc123")
    calls = []

    def build_v1(tmp):
        os.makedirs(tmp)
        _touch(os.path.join(tmp, "data"), b"v1")
        _touch(os.path.join(tmp, "_SUCCESS"), b"")
        calls.append("v1")

    def build_v2(tmp):
        os.makedirs(tmp)
        _touch(os.path.join(tmp, "data"), b"v2")
        _touch(os.path.join(tmp, "_SUCCESS"), b"")
        calls.append("v2")

    assert derived.publish(build_v1, final) == final
    with open(os.path.join(final, "data"), "rb") as f:
        assert f.read() == b"v1"
    # second publish at the same path: cache hit, build never runs
    derived.publish(build_v2, final)
    assert calls == ["v1"]
    with open(os.path.join(final, "data"), "rb") as f:
        assert f.read() == b"v1"


def test_publish_loser_keeps_winners_output(tmp_path):
    """Simulate the race: the 'other' builder publishes while ours is
    mid-build. Our rename must fail silently and the winner's dir must
    survive untouched (the old pattern rmtree'd it)."""
    final = str(tmp_path / "artifact_def456")

    def racing_build(tmp):
        os.makedirs(tmp)
        _touch(os.path.join(tmp, "data"), b"loser")
        # winner publishes first, mid-build
        os.makedirs(final)
        _touch(os.path.join(final, "data"), b"winner")
        _touch(os.path.join(final, "_SUCCESS"), b"")

    assert derived.publish(racing_build, final) == final
    with open(os.path.join(final, "data"), "rb") as f:
        assert f.read() == b"winner"
    # loser's temp dir was cleaned up
    assert [n for n in os.listdir(tmp_path) if ".build-" in n] == []


def test_publish_prunes_stale_generations(tmp_path, monkeypatch):
    """Pruning is TTL-age-gated: a FRESH old generation survives the
    publish (a concurrent reader may still be lazily listing its part
    files — ADVICE r4), while one older than the TTL is removed."""
    monkeypatch.setattr(derived, "_PREFIX", str(tmp_path) + "/spark_graft_")
    old = str(tmp_path / "spark_graft_kind_src_oldfp1")
    os.makedirs(old)
    new = str(tmp_path / "spark_graft_kind_src_newfp2")

    def build(tmp):
        os.makedirs(tmp)
        _touch(os.path.join(tmp, "_SUCCESS"), b"")

    derived.publish(build, new)
    assert os.path.exists(new)
    # fresh old generation is NOT pruned (inside the reader-safety TTL)
    assert os.path.exists(old)

    # age it past the TTL -> next publish prunes it
    stale = time.time() - derived._PRUNE_TTL_SECONDS - 60
    os.utime(old, (stale, stale))
    derived._prune_stale_generations(new)
    assert not os.path.exists(old)
    assert os.path.exists(new)
