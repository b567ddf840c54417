"""Single-writer ENFORCEMENT on the segment lifecycle (r12, VERDICT
r11 missing #4 / task 5): the two-phase reserve/commit protocol was
crash-safe but two CONCURRENT appenders could read the same max_seg and
interleave one segment. segments.writer_lease makes the loser RAISE
ConcurrentWriterError instead; these tests pin the contention, retry,
crash-recovery, and release edges."""

from __future__ import annotations

import json
import os
import socket
import subprocess
import threading
import time

import pytest

from wvfoia_sync_spark.operators import gram_index, segments


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


A = "a1 a2 a3 a4 a5 a6 a7 a8"
B = "b1 b2 b3 b4 b5 b6 b7 b8"


def _lease_file(idx: str) -> str:
    return os.path.join(idx, segments.WRITER_LOCK)


def test_two_writers_one_wins_index_equals_serial(spark, tmp_path):
    """Two threaded appenders against one gram index: while the lease
    is held each attempt RAISES (observed at least twice, forced
    deterministically by holding the lease from the main thread until
    both workers have collided); with retries both eventually land,
    and the final live view is row-identical to a fresh build of the
    serial union — one writer wins per attempt, nothing interleaves,
    nothing is lost."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A)]), idx, span=6)
    deltas = {
        3: "c1 c2 c3 c4 c5 c6 c7",
        4: "d1 d2 d3 d4 d5 d6 d7",
    }
    errors: list = []
    failures: list = []

    def writer(doc_id: int, text: str) -> None:
        delta = _docs(spark, [(doc_id, text)])
        for _ in range(200):
            try:
                gram_index.append_gram_index(delta, idx)
                return
            except segments.ConcurrentWriterError as e:
                errors.append(e)
                time.sleep(0.05)
            except Exception as e:  # noqa: BLE001 — surface in main thread
                failures.append(e)
                return
        failures.append(AssertionError("writer starved"))

    threads = [
        threading.Thread(target=writer, args=(d, t), daemon=True)
        for d, t in deltas.items()
    ]
    # deterministic contention: hold the lease until BOTH workers have
    # collided with it at least once
    with segments.writer_lease(idx):
        for t in threads:
            t.start()
        deadline = time.time() + 30
        while len(errors) < 2 and time.time() < deadline:
            time.sleep(0.02)
        assert len(errors) >= 2, "workers never collided with the lease"
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert not failures, failures

    got = sorted(map(tuple, gram_index.load_gram_index(spark, idx).collect()))
    serial = str(tmp_path / "serial")
    gram_index.write_gram_index(
        _docs(spark, [(1, A)] + sorted(deltas.items())), serial, span=6
    )
    want = sorted(
        map(tuple, gram_index.load_gram_index(spark, serial).collect())
    )
    assert got == want
    # both appends committed as DISTINCT segments (no id reuse)
    assert segments.read_manifest(idx, gram_index.MANIFEST)["committed_seg"] == 2
    # lease released on the way out
    assert not os.path.exists(_lease_file(idx))


def test_live_holder_raises_and_is_never_broken(spark, tmp_path):
    """A fresh lease held by a live process on this host is NEVER
    considered stale: the second writer fails fast with the holder in
    the message, and the lease file survives the attempt."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A)]), idx, span=6)
    with open(_lease_file(idx), "w") as f:
        json.dump(
            {
                "pid": os.getpid(),
                "host": socket.gethostname(),
                "token": "foreign",
                "ts": time.time(),
            },
            f,
        )
    with pytest.raises(segments.ConcurrentWriterError, match="single-writer"):
        gram_index.append_gram_index(_docs(spark, [(9, B)]), idx)
    assert os.path.exists(_lease_file(idx))
    # release with a non-matching token must not delete someone else's
    # (possibly re-acquired) lease
    segments._release_lease(idx, "not-the-token")
    assert os.path.exists(_lease_file(idx))
    os.unlink(_lease_file(idx))


def test_dead_holder_lease_is_broken_automatically(spark, tmp_path):
    """Crash recovery: a lease whose pid is provably dead on THIS host
    is broken silently, so the documented retry-repairs path survives
    the enforcement (a crashed append must not wedge the index)."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A)]), idx, span=6)
    proc = subprocess.Popen(["true"])
    proc.wait()  # reaped: the pid is provably dead
    with open(_lease_file(idx), "w") as f:
        json.dump(
            {
                "pid": proc.pid,
                "host": socket.gethostname(),
                "token": "crashed",
                "ts": time.time(),
            },
            f,
        )
    seg = gram_index.append_gram_index(_docs(spark, [(9, B)]), idx)
    assert seg == 1
    assert not os.path.exists(_lease_file(idx))


def test_foreign_host_lease_ttl(spark, tmp_path):
    """Cross-host leases (pid liveness means nothing): fresh -> raises;
    older than the TTL -> broken. Torn/unreadable lease files age-gate
    on file mtime the same way."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A)]), idx, span=6)
    delta = _docs(spark, [(9, B)])

    with open(_lease_file(idx), "w") as f:
        json.dump(
            {"pid": 1, "host": "other-host", "token": "x", "ts": time.time()},
            f,
        )
    with pytest.raises(segments.ConcurrentWriterError):
        gram_index.append_gram_index(delta, idx)

    with open(_lease_file(idx), "w") as f:
        json.dump(
            {
                "pid": 1,
                "host": "other-host",
                "token": "x",
                "ts": time.time() - segments._LEASE_TTL_SECONDS - 60,
            },
            f,
        )
    assert gram_index.append_gram_index(delta, idx) == 1

    # torn lease (unparseable): fresh mtime -> raises; aged -> broken
    with open(_lease_file(idx), "w") as f:
        f.write("{torn")
    with pytest.raises(segments.ConcurrentWriterError):
        gram_index.append_gram_index(delta, idx)
    stale = time.time() - segments._LEASE_TTL_SECONDS - 60
    os.utime(_lease_file(idx), (stale, stale))
    assert gram_index.append_gram_index(delta, idx) == 2


def test_failed_append_releases_lease(spark, tmp_path):
    """An append that RAISES mid-way (here: the span-disagreement
    guard) must release the lease on the way out — only a process
    CRASH may leave one behind."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A)]), idx, span=6)
    with pytest.raises(ValueError, match="disagrees with the index"):
        gram_index.append_gram_index(_docs(spark, [(9, B)]), idx, span=5)
    assert not os.path.exists(_lease_file(idx))
    assert gram_index.append_gram_index(_docs(spark, [(9, B)]), idx) == 1


def test_live_holder_is_never_ttl_broken(spark, tmp_path):
    """A provably-LIVE same-host holder survives even an ancient
    timestamp: a legitimate longer-than-TTL hold (a huge compaction)
    must raise at the second writer, never be yanked into a two-writer
    interleave. The TTL breaks only holders whose death is unprovable
    (cross-host, or unreadable lease)."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A)]), idx, span=6)
    with open(_lease_file(idx), "w") as f:
        json.dump(
            {
                "pid": os.getpid(),  # alive: this very process
                "host": socket.gethostname(),
                "token": "long-compaction",
                "ts": time.time() - segments._LEASE_TTL_SECONDS - 3600,
            },
            f,
        )
    with pytest.raises(segments.ConcurrentWriterError):
        gram_index.append_gram_index(_docs(spark, [(9, B)]), idx)
    assert os.path.exists(_lease_file(idx))
    os.unlink(_lease_file(idx))


def _write_lease(idx: str, rec: dict) -> bytes:
    raw = json.dumps(rec).encode()
    with open(_lease_file(idx), "wb") as f:
        f.write(raw)
    return raw


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()  # reaped: the pid is provably dead
    return proc.pid


def test_break_is_token_guarded_against_reacquire(spark, tmp_path):
    """The r12 residual, closed (r13, VERDICT r12 task 6): a breaker
    that classified a DEAD holder's lease stale, then lost the race to
    another breaker who broke it and re-acquired, must NOT unlink the
    fresh third-writer lease — the two-phase break re-reads the lock
    and aborts when the content no longer matches what it classified."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A)]), idx, span=6)
    host = socket.gethostname()
    stale_raw = _write_lease(
        idx, {"pid": _dead_pid(), "host": host, "token": "dead", "ts": 0}
    )
    # interleave: before OUR break lands, the lease is broken and
    # re-acquired by a live third writer
    fresh = {"pid": os.getpid(), "host": host, "token": "fresh3", "ts": 0}
    fresh_raw = _write_lease(idx, fresh)
    segments._break_stale(_lease_file(idx), stale_raw, host)
    # the live writer's lease survives, byte-identical
    with open(_lease_file(idx), "rb") as f:
        assert f.read() == fresh_raw
    # and no marker is left behind
    assert not os.path.exists(_lease_file(idx) + ".break")
    # the break DOES land when the content still matches
    segments._break_stale(_lease_file(idx), fresh_raw, host)
    assert not os.path.exists(_lease_file(idx))


def test_break_marker_serializes_breakers_and_recovers_from_crash(
    spark, tmp_path
):
    """Breakers serialize on the exclusive .break marker: while a LIVE
    breaker holds it, a second breaker backs off without touching the
    lock; a CRASHED breaker's orphaned marker (provably-dead pid) is
    itself broken, so it cannot wedge the index — the next append
    still acquires."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A)]), idx, span=6)
    host = socket.gethostname()
    stale_raw = _write_lease(
        idx, {"pid": _dead_pid(), "host": host, "token": "dead", "ts": 0}
    )
    marker = _lease_file(idx) + ".break"

    # live breaker holds the marker: a rival break is a no-op
    with open(marker, "w") as f:
        json.dump(
            {"pid": os.getpid(), "host": host, "ts": time.time(),
             "target_sha": "other"},
            f,
        )
    segments._break_stale(_lease_file(idx), stale_raw, host)
    assert os.path.exists(_lease_file(idx))  # lock untouched
    assert os.path.exists(marker)  # live marker untouched

    # crashed breaker's marker (dead pid): broken, then the full
    # acquire path gets through — marker AND dead lease both cleared
    with open(marker, "w") as f:
        json.dump(
            {"pid": _dead_pid(), "host": host, "ts": time.time(),
             "target_sha": "other"},
            f,
        )
    assert gram_index.append_gram_index(_docs(spark, [(9, B)]), idx) == 1
    assert not os.path.exists(marker)
    assert not os.path.exists(_lease_file(idx))


def test_three_writers_race_over_dead_holder_single_winner(
    spark, tmp_path
):
    """The VERDICT r12 task-6 done criterion: THREE writers racing over
    an already-dead holder's lease (each one both a breaker and a
    candidate acquirer). Exactly one wins each acquire, nothing
    interleaves, and with retries all three land as distinct segments —
    the final index equals a serial execution."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A)]), idx, span=6)
    host = socket.gethostname()
    _write_lease(
        idx, {"pid": _dead_pid(), "host": host, "token": "dead", "ts": 0}
    )
    deltas = {
        3: "c1 c2 c3 c4 c5 c6 c7",
        4: "d1 d2 d3 d4 d5 d6 d7",
        5: "e1 e2 e3 e4 e5 e6 e7",
    }
    start = threading.Barrier(len(deltas))
    failures: list = []

    def writer(doc_id: int, text: str) -> None:
        delta = _docs(spark, [(doc_id, text)])
        start.wait()
        for _ in range(200):
            try:
                gram_index.append_gram_index(delta, idx)
                return
            except segments.ConcurrentWriterError:
                time.sleep(0.05)
            except Exception as e:  # noqa: BLE001 — surface in main thread
                failures.append(e)
                return
        failures.append(AssertionError("writer starved"))

    threads = [
        threading.Thread(target=writer, args=(d, t), daemon=True)
        for d, t in deltas.items()
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=180)
        assert not t.is_alive()
    assert not failures, failures

    got = sorted(map(tuple, gram_index.load_gram_index(spark, idx).collect()))
    serial = str(tmp_path / "serial")
    gram_index.write_gram_index(
        _docs(spark, [(1, A)] + sorted(deltas.items())), serial, span=6
    )
    want = sorted(
        map(tuple, gram_index.load_gram_index(spark, serial).collect())
    )
    assert got == want
    # all three appends committed as DISTINCT segments (no id reuse)
    assert segments.read_manifest(idx, gram_index.MANIFEST)["committed_seg"] == 3
    # no lease or break marker left behind
    assert not os.path.exists(_lease_file(idx))
    assert not os.path.exists(_lease_file(idx) + ".break")


def test_cas_store_lease_algorithm_end_to_end(tmp_path):
    """r13 (VERDICT r12 missing #4): the lease ALGORITHM is
    store-agnostic — the same contention / dead-holder-break /
    token-guarded-release semantics hold over a CAS-backed LeaseStore,
    where every conditional is one atomic op and the POSIX .break
    marker emulation does not exist. Pins the seam an object-store
    deployment binds into."""
    mem = segments.InMemoryCASLeaseStore()
    st = mem.for_key("idx1/_writer.lock")
    idx = str(tmp_path / "idx1")
    os.makedirs(idx)

    # contention: holder live -> second writer raises fail-fast
    with segments.writer_lease(idx, store=st):
        with pytest.raises(segments.ConcurrentWriterError):
            with segments.writer_lease(idx, store=st):
                pass
        assert st.get() is not None  # the raise never disturbed it
    assert st.get() is None  # released on exit

    # dead same-host holder: broken in ONE conditional call
    dead = subprocess.Popen(["true"])
    dead.wait()
    st.try_put_if_absent(
        json.dumps(
            {
                "pid": dead.pid,
                "host": socket.gethostname(),
                "token": "dead",
                "ts": time.time(),
            }
        ).encode()
    )
    with segments.writer_lease(idx, store=st):
        rec = json.loads(st.get())
        assert rec["token"] != "dead"  # fresh lease, stale one broken
    assert st.get() is None

    # torn record: age-gated via the store's own age, not file mtime
    st.try_put_if_absent(b"not json at all")
    with mem._lock:  # backdate past the TTL (test-only reach-in)
        raw, _ = mem._data["idx1/_writer.lock"]
        mem._data["idx1/_writer.lock"] = (raw, time.time() - 10_000)
    with segments.writer_lease(idx, ttl=60.0, store=st):
        assert st.get() != b"not json at all"
    assert st.get() is None

    # release is token-guarded: a foreign release never unlocks
    tok = segments._acquire_lease(idx, 60.0, st)
    segments._release_lease(idx, "not-the-token", st)
    assert st.get() is not None
    segments._release_lease(idx, tok, st)
    assert st.get() is None


def test_lease_store_factory_routes_real_appends(spark, tmp_path):
    """Rebinding segments.lease_store_factory routes EVERY index
    writer's lease through the bound store with no per-call-site
    plumbing: a real write+append+compact cycle coordinates through
    the in-memory CAS store (acquire/release observed), touches no
    _writer.lock file on disk, and produces a correct index."""
    mem = segments.InMemoryCASLeaseStore()
    calls = {"puts": 0, "releases": 0}

    class Counting:
        def __init__(self, inner):
            self._i = inner

        def try_put_if_absent(self, raw):
            calls["puts"] += 1
            return self._i.try_put_if_absent(raw)

        def get(self):
            return self._i.get()

        def age_seconds(self):
            return self._i.age_seconds()

        def delete_if_match(self, raw, my_host):
            return self._i.delete_if_match(raw, my_host)

        def release(self, token):
            calls["releases"] += 1
            return self._i.release(token)

    idx = str(tmp_path / "idx")
    old = segments.lease_store_factory
    segments.lease_store_factory = lambda key: Counting(mem.for_key(key))
    try:
        gram_index.write_gram_index(_docs(spark, [(1, A)]), idx, span=6)
        gram_index.append_gram_index(_docs(spark, [(2, B)]), idx)
        gram_index.compact_gram_index(spark, idx)
        assert not os.path.exists(_lease_file(idx))
        assert not os.path.exists(_lease_file(idx) + ".break")
        # append + in-place compaction each held (and released) a lease
        assert calls["puts"] >= 2 and calls["releases"] >= 2
        assert mem._data == {}  # nothing left held
    finally:
        segments.lease_store_factory = old
    got = sorted(
        map(tuple, gram_index.load_gram_index(spark, idx).collect())
    )
    serial = str(tmp_path / "serial")
    gram_index.write_gram_index(_docs(spark, [(1, A), (2, B)]), serial, span=6)
    want = sorted(
        map(tuple, gram_index.load_gram_index(spark, serial).collect())
    )
    assert got == want
