"""Stored gram-index lifecycle (operators/gram_index.py, r10): the
fourth caller of the segments core — newest-wins re-arrivals, the
staleness trigger, geometry pinning, and gate semantics on a planted
corpus (the equivalence story is driver-visible via the registered
gram_lifecycle_property_check; these tests pin the focused edges)."""

from __future__ import annotations

import hashlib

import pytest

from wvfoia_sync_spark.functions import text as text_fns
from wvfoia_sync_spark.operators import gram_index, segments


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


SHARED = "s1 s2 s3 s4 s5 s6 s7"  # 7 tokens -> two 6-grams
A = "a1 a2 a3 a4 a5 a6 " + SHARED + " b1 b2 b3 b4 b5 b6"
B = "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"


def _gate_runs(spark, idx, incoming):
    from wvfoia_sync_spark.queries.corpus_text import _survivor_runs

    hits = gram_index.match_starts(spark, idx, incoming)
    probe = incoming.select(
        "doc_id", text_fns.tokens("text").alias("toks")
    ).join(hits, "doc_id", "left")
    return sorted(map(tuple, _survivor_runs(probe, span=6).collect()))


def test_gram_index_gate_semantics_planted(spark, tmp_path):
    """Incoming doc sharing A's mid passage splits into two flanks; an
    exact copy of A is fully rejected (zero rows); unrelated text is
    admitted whole. No keep-first at the gate: the corpus copy is
    canonical by definition."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A), (2, B)]), idx, span=6)

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    incoming = _docs(
        spark,
        [
            (10, "c1 c2 c3 c4 c5 c6 " + SHARED + " e1 e2 e3 e4 e5 e6"),
            (11, A),
            (12, "f1 f2 f3 f4 f5 f6 f7 f8 f9"),
        ],
    )
    assert _gate_runs(spark, idx, incoming) == sorted(
        [
            (10, 0, 6, md5("c1 c2 c3 c4 c5 c6")),
            (10, 1, 6, md5("e1 e2 e3 e4 e5 e6")),
            # doc 11 (verbatim corpus copy): zero rows
            (12, 0, 9, md5("f1 f2 f3 f4 f5 f6 f7 f8 f9")),
        ]
    )


def test_gram_index_rearrival_newest_wins_and_staleness(spark, tmp_path):
    """Updating doc 1's text via append kills its OLD grams on every
    read path (an incoming copy of the old text stops being gated by
    it), the staleness report prices the dead rows, and compaction
    drops them physically and restores the zero-work fast path."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A), (2, B)]), idx, span=6)
    assert gram_index.gram_index_staleness(spark, idx) == {
        "max_seg": 0,
        "stale_fraction": 0.0,
    }

    # doc 1 re-arrives with entirely new text
    NEW = "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10 n11 n12"
    gram_index.append_gram_index(_docs(spark, [(1, NEW)]), idx)

    incoming = _docs(spark, [(20, A), (21, NEW)])
    runs = _gate_runs(spark, idx, incoming)
    # old text admitted whole (its grams are stale); new text rejected
    assert [r[0] for r in runs] == [20]
    assert runs[0][2] == 19  # A intact: one 19-token run

    s = gram_index.gram_index_staleness(spark, idx)
    assert s["max_seg"] == 1 and s["stale_fraction"] > 0

    live_before = sorted(
        map(tuple, gram_index.load_gram_index(spark, idx).collect())
    )
    gram_index.compact_gram_index(spark, idx)
    assert gram_index.gram_index_staleness(spark, idx) == {
        "max_seg": 0,
        "stale_fraction": 0.0,
    }
    assert (
        sorted(map(tuple, gram_index.load_gram_index(spark, idx).collect()))
        == live_before
    )
    assert _gate_runs(spark, idx, incoming) == runs


def test_gram_index_geometry_pinned(spark, tmp_path):
    """A disagreeing explicit span RAISES (grams of different spans
    never match — the append would silently contribute nothing), and
    appending into a non-index directory raises the rebuild hint."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A)]), idx, span=6)
    with pytest.raises(ValueError, match="disagrees with the index"):
        gram_index.append_gram_index(_docs(spark, [(2, B)]), idx, span=5)
    with pytest.raises(FileNotFoundError, match="Rebuild the index"):
        gram_index.append_gram_index(
            _docs(spark, [(2, B)]), str(tmp_path / "not_an_index")
        )


def test_streaming_substring_gate_prunes_and_resumes(spark, tmp_path):
    """The streaming ingest gate (streaming/jobs.py, r10): (a) runs
    identical to the batch gate on the same slices, read back from the
    per-epoch parquet sink; (b) the per-batch stored-index scan carries
    a gbucket PartitionFilter (corpus scan pruned to the arriving
    shard's bucket set); (c) a checkpointed SECOND run processes only
    the newly arrived file, and the read-back resolves the re-arrived
    doc to its NEWEST epoch's runs (the index's own re-arrival
    contract, applied to the sink)."""
    import hashlib

    from wvfoia_sync_spark.streaming import jobs

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A), (2, B)]), idx, span=6)

    src = tmp_path / "arrivals" / "documents.parquet"
    first = _docs(
        spark,
        [
            (10, "c1 c2 c3 c4 c5 c6 " + SHARED + " e1 e2 e3 e4 e5 e6"),
            (11, A),
            (12, "f1 f2 f3 f4 f5 f6 f7 f8 f9"),
        ],
    )
    first.write.parquet(str(src))

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    plans: list = []
    incoming = jobs.documents_stream(spark, str(tmp_path / "arrivals"))
    out = jobs.streaming_substring_gate(
        incoming, idx, "ssg_test_1", sink, plan_tap=plans,
        checkpoint_path=ckpt,
    )
    got = sorted(map(tuple, out.collect()))
    assert got == sorted(
        [
            (10, 0, 6, md5("c1 c2 c3 c4 c5 c6")),
            (10, 1, 6, md5("e1 e2 e3 e4 e5 e6")),
            (12, 0, 9, md5("f1 f2 f3 f4 f5 f6 f7 f8 f9")),
        ]
    )
    assert plans and any(
        "PartitionFilters" in ln and "gbucket" in ln
        for p in plans
        for ln in p.splitlines()
    ), "stored-index scan did not carry a gbucket PartitionFilter"

    # doc 10 RE-ARRIVES with text that is now entirely corpus-known;
    # the checkpointed resume must process only this file, and the
    # read-back must show doc 10's NEWEST runs (none) — not epoch 0's
    _docs(spark, [(10, A)]).write.mode("append").parquet(str(src))
    incoming2 = jobs.documents_stream(spark, str(tmp_path / "arrivals"))
    out2 = jobs.streaming_substring_gate(
        incoming2, idx, "ssg_test_2", sink, checkpoint_path=ckpt
    )
    got2 = sorted(map(tuple, out2.collect()))
    assert got2 == sorted(
        [
            (12, 0, 9, md5("f1 f2 f3 f4 f5 f6 f7 f8 f9")),
        ]
    ), got2


def test_gram_index_crash_and_orphan_tolerance(spark, tmp_path):
    """The module-docstring crash contract, exercised: (a) a manifest
    pointing at a segment with no data (crash after the manifest bump,
    before the writes) leaves every read correct — just fewer rows for
    that segment — and the segment id is never reused, so re-running
    the append repairs the index to exactly a fresh rebuild; (b) data
    rows ABOVE the manifest bound (a concurrent append mid-read, or a
    crashed pre-v2 append's orphans) are invisible to every reader."""
    import json

    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A), (2, B)]), idx, span=6)
    baseline = sorted(
        map(tuple, gram_index.load_gram_index(spark, idx).collect())
    )

    # (a) crash-simulated append: manifest bumped, no data written
    man = segments.read_manifest(idx, gram_index.MANIFEST)
    man["max_seg"] = 1
    with open(f"{idx}/_manifest.json", "w") as f:
        json.dump(man, f)
    assert (
        sorted(map(tuple, gram_index.load_gram_index(spark, idx).collect()))
        == baseline
    )
    s = gram_index.gram_index_staleness(spark, idx)
    assert s["max_seg"] == 1 and s["stale_fraction"] == 0.0

    # retry the append for real: seg 1 is NOT reused (next is 2), and
    # the result equals a fresh rebuild of the upserted corpus
    NEW = "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10"
    assert gram_index.append_gram_index(_docs(spark, [(1, NEW)]), idx) == 2
    fresh = str(tmp_path / "fresh")
    gram_index.write_gram_index(_docs(spark, [(1, NEW), (2, B)]), fresh, span=6)
    assert sorted(
        (r["g"],) for r in gram_index.load_gram_index(spark, idx).collect()
    ) == sorted(
        (r["g"],) for r in gram_index.load_gram_index(spark, fresh).collect()
    )

    # (b) rows above the manifest bound are invisible
    import pyspark.sql.functions as F

    orphan = (
        gram_index.doc_grams(_docs(spark, [(9, A)]), 6)
        .withColumn("seg", F.lit(99))
        .withColumn("gbucket", F.pmod(F.xxhash64("g"), F.lit(64)).cast("int"))
    )
    orphan.write.mode("append").partitionBy("gbucket").parquet(f"{idx}/grams")
    live_ids = {
        r[0] for r in gram_index.load_gram_index(spark, idx).select("doc_id").collect()
    }
    assert 9 not in live_ids


def test_streaming_substring_gate_two_versions_one_batch(spark, tmp_path):
    """Within-batch re-arrival (two files, NO checkpoint -> one batch
    delivers both versions of doc 10): the gate resolves to ONE
    deterministically-chosen version instead of merging both versions'
    match positions into a corrupted run set. The chosen version is the
    greatest non-id tuple — here the text sorting last."""
    import hashlib

    from wvfoia_sync_spark.streaming import jobs

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A)]), idx, span=6)

    src = tmp_path / "arrivals" / "documents.parquet"
    v_low = "a0 " + A  # contains A's grams -> heavily gated
    v_high = "w1 w2 w3 w4 w5 w6 w7 w8"  # clean -> admitted whole
    assert v_high > v_low  # the deterministic pick
    _docs(spark, [(10, v_low)]).write.parquet(str(src))
    _docs(spark, [(10, v_high)]).write.mode("append").parquet(str(src))

    out = jobs.streaming_substring_gate(
        jobs.documents_stream(spark, str(tmp_path / "arrivals")),
        idx,
        "ssg_two_versions",
        str(tmp_path / "sink"),
    )
    assert sorted(map(tuple, out.collect())) == [
        (10, 0, 8, md5(v_high)),
    ]


def test_gram_index_short_text_rearrival_kills_old_grams(spark, tmp_path):
    """r10 review repro, pinned: a re-arrived doc whose NEW text is
    shorter than the span yields zero grams — live rows must come from
    the delta's IDS (not its gram rows), or the doc's old segment
    would keep resolving as live and its retired grams would gate
    forever. After the append, the doc's old text must be admitted
    whole; after compaction the index must hold no grams for the doc
    at all while other docs are untouched."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A), (2, B)]), idx, span=6)
    # doc 1 re-arrives with 2 tokens — below span, zero grams
    gram_index.append_gram_index(_docs(spark, [(1, "tiny doc")]), idx)

    live = gram_index.load_gram_index(spark, idx)
    assert live.where(live.doc_id == 1).count() == 0  # old grams dead
    assert live.where(live.doc_id == 2).count() > 0

    # an arriving copy of doc 1's OLD text is now admitted whole
    runs = _gate_runs(spark, idx, _docs(spark, [(30, A)]))
    assert [(r[0], r[2]) for r in runs] == [(30, 19)]

    gram_index.compact_gram_index(spark, idx)
    live2 = gram_index.load_gram_index(spark, idx)
    assert live2.where(live2.doc_id == 1).count() == 0
    assert _gate_runs(spark, idx, _docs(spark, [(30, A)])) == runs


def test_batch_gate_prunes_stored_scan(spark, tmp_path):
    """r11 (VERDICT r10 task 5): the BATCH gate's probe now prunes the
    stored grams scan to the incoming batch's gbucket set — the
    streaming gate's PartitionFilter posture — instead of paying a
    full-index scan for a tiny delta. Values must be identical to the
    unpruned (prune=False) join."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(
        _docs(spark, [(1, A), (2, B)]), idx, span=6, prune_buckets=256
    )
    incoming = _docs(spark, [(10, "c1 c2 c3 c4 c5 c6 " + SHARED)])
    hits = gram_index.match_starts(spark, idx, incoming)
    plan = hits._sc._jvm.PythonSQLUtils.explainString(
        hits._jdf.queryExecution(), "formatted"
    )
    assert any(
        "PartitionFilters" in ln and "gbucket" in ln
        for ln in plan.splitlines()
    ), plan
    unpruned = gram_index.match_starts(spark, idx, incoming, prune=False)
    key = lambda r: (r[0], sorted(r[1]))  # noqa: E731
    assert sorted(map(key, hits.collect())) == sorted(
        map(key, unpruned.collect())
    )


def test_gate_then_append_ingest_loop(spark, tmp_path):
    """The production ingest LOOP the gate and append exist for: gate a
    batch against the index, admit it, APPEND the admitted docs as a
    new segment — a re-crawl of the admitted text is then fully
    rejected (its grams are now corpus), the original corpus text still
    gates, and novel text still passes whole."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A)]), idx, span=6)

    t10 = "c1 c2 c3 c4 c5 c6 " + SHARED + " e1 e2 e3 e4 e5 e6"
    incoming = _docs(spark, [(10, t10)])
    runs = _gate_runs(spark, idx, incoming)
    assert [r[2] for r in runs] == [6, 6]  # SHARED cut, flanks admitted

    # admit the batch (whole-doc admit policy) and index it
    gram_index.append_gram_index(incoming, idx)

    # re-crawl of the admitted doc's text: fully rejected now
    assert _gate_runs(spark, idx, _docs(spark, [(20, t10)])) == []
    # original corpus text still gates
    assert _gate_runs(spark, idx, _docs(spark, [(21, A)])) == []
    # novel text still passes whole
    novel = _gate_runs(spark, idx, _docs(spark, [(22, B)]))
    assert [(r[0], r[2]) for r in novel] == [(22, 10)]


def test_stolen_first_occurrences_planted(spark, tmp_path):
    """The O(|delta|) delta-report core (r12): a delta doc whose id
    outranks the corpus under the keep-first packed order steals the
    first occurrence of every gram it shares; ties and later positions
    steal nothing; a membership-only index raises the rebuild hint."""
    idx = str(tmp_path / "idx")
    # A = a1..a6 + SHARED(7 toks, starts at position 6) + b1..b6
    gram_index.write_gram_index(
        _docs(spark, [(1, A), (2, B)]), idx, span=6, with_first=True
    )

    # delta doc 0 < corpus doc 1: SHARED's two 6-grams (A positions 6
    # and 7) are both stolen
    delta = _docs(spark, [(0, SHARED)])
    got = sorted(
        map(tuple, gram_index.stolen_first_occurrences(spark, idx, delta).collect())
    )
    assert got == [(1, 6), (1, 7)]

    # delta doc 5 > corpus docs: same text steals NOTHING (corpus
    # first occurrences already outrank it)
    later = _docs(spark, [(5, SHARED)])
    assert (
        gram_index.stolen_first_occurrences(spark, idx, later).count() == 0
    )

    # membership-only index: loud rebuild hint, not silent wrongness
    idx_plain = str(tmp_path / "idx_plain")
    gram_index.write_gram_index(_docs(spark, [(1, A)]), idx_plain, span=6)
    with pytest.raises(ValueError, match="with_first=True"):
        gram_index.stolen_first_occurrences(spark, idx_plain, delta)


def test_stolen_first_occurrences_newest_wins_append(spark, tmp_path):
    """Per-doc first minima survive the segment lifecycle: after doc 1
    re-arrives WITHOUT the shared passage, its stale first positions
    must stop being stealable; after compaction the answer is stable."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(
        _docs(spark, [(1, A), (2, B)]), idx, span=6, with_first=True
    )
    delta = _docs(spark, [(0, SHARED)])
    assert gram_index.stolen_first_occurrences(spark, idx, delta).count() == 2

    # doc 1's update drops SHARED entirely -> nothing left to steal
    gram_index.append_gram_index(
        _docs(spark, [(1, "n1 n2 n3 n4 n5 n6 n7")]), idx
    )
    assert gram_index.stolen_first_occurrences(spark, idx, delta).count() == 0

    # re-arrival that moves SHARED to position 0 -> stolen only by a
    # strictly-outranking delta (same id, smaller position: tie on doc,
    # delta position 0 == corpus position 0 -> packed equality, no steal)
    gram_index.append_gram_index(_docs(spark, [(1, SHARED)]), idx)
    assert gram_index.stolen_first_occurrences(spark, idx, delta).count() == 2
    gram_index.compact_gram_index(spark, idx)
    got = sorted(
        map(tuple, gram_index.stolen_first_occurrences(spark, idx, delta).collect())
    )
    assert got == [(1, 0), (1, 1)]


def test_stolen_first_occurrences_degenerate_deltas(spark, tmp_path):
    """Empty and sub-span deltas report zero steals without erroring
    (the empty-bucket isin and the gramless explode are both safe)."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(
        _docs(spark, [(1, A)]), idx, span=6, with_first=True
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert gram_index.stolen_first_occurrences(spark, idx, empty).count() == 0
    short = _docs(spark, [(0, "x1 x2")])
    assert gram_index.stolen_first_occurrences(spark, idx, short).count() == 0
    # a delta doc IDENTICAL to an indexed doc (a pre-merge re-arrival
    # evaluation) ties on every packed key and steals nothing from
    # itself: strict < is the keep-first contract
    same = _docs(spark, [(1, A)])
    assert gram_index.stolen_first_occurrences(spark, idx, same).count() == 0


def test_ingest_loop_with_delta_impact_check(spark, tmp_path):
    """The r12 production loop END TO END on one with_first index: the
    delta-impact check (stolen_first_occurrences) answers 'may I merge
    without a recompute?' BEFORE the append, the gate cuts known text,
    and the append makes both answers advance consistently.

    Doc 0 (outranks corpus doc 1) contains SHARED -> the check reports
    doc 1's SHARED starts as stolen (a merge would retroactively change
    doc 1's duplicated set — schedule a recompute); doc 50 (outranked)
    with novel text -> empty report, merge is free. After appending doc
    50, a re-crawl of its text is fully rejected by the gate and a new
    outranked delta of the SAME text steals nothing (doc 50's copy is
    now the corpus-first)."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(
        _docs(spark, [(1, A), (2, B)]), idx, span=6, with_first=True
    )

    # arriving doc that would STEAL canonicality: non-empty report
    stealer = _docs(spark, [(0, SHARED)])
    report = gram_index.stolen_first_occurrences(spark, idx, stealer)
    assert sorted(map(tuple, report.collect())) == [(1, 6), (1, 7)]

    # arriving outranked doc with novel text: empty report — merge free
    novel_text = "n1 n2 n3 n4 n5 n6 n7 n8 n9"
    free = _docs(spark, [(50, novel_text)])
    assert gram_index.stolen_first_occurrences(spark, idx, free).count() == 0
    runs = _gate_runs(spark, idx, free)
    assert [(r[0], r[2]) for r in runs] == [(50, 9)]  # admitted whole

    gram_index.append_gram_index(free, idx)
    # re-crawl of the admitted text: fully rejected by the gate now
    assert _gate_runs(spark, idx, _docs(spark, [(60, novel_text)])) == []
    # and a later-ranked copy steals nothing (50 holds corpus-first);
    # an EARLIER-ranked copy steals exactly the novel grams
    later = _docs(spark, [(70, novel_text)])
    assert gram_index.stolen_first_occurrences(spark, idx, later).count() == 0
    earlier = _docs(spark, [(-5, novel_text)])
    stolen = gram_index.stolen_first_occurrences(spark, idx, earlier)
    assert sorted(map(tuple, stolen.collect())) == [
        (50, 0), (50, 1), (50, 2), (50, 3),
    ]


def test_streaming_delta_impact_epochs_and_resume(spark, tmp_path):
    """The streaming delta-impact twin (r12): batch 1's report answers
    against the base index; the loop appends; the checkpointed resume
    processes ONLY the new file, whose report reflects the UPDATED
    corpus-firsts; and the read-back returns the latest epoch's answer
    whole — never a cross-epoch blend (different batches are different
    merge questions)."""
    from wvfoia_sync_spark.streaming import jobs

    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(
        _docs(spark, [(10, A), (20, B)]), idx, span=6, with_first=True
    )
    src = str(tmp_path / "arrivals")
    # batch 1: doc 0 outranks corpus doc 10 and shares SHARED -> steals
    # its two 6-gram firsts (A positions 6 and 7)
    _docs(spark, [(0, SHARED)]).write.parquet(src)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    incoming = (
        spark.readStream.schema("doc_id long, text string")
        .format("parquet")
        .load(src)
    )
    out1 = jobs.streaming_delta_impact(
        incoming, idx, "sdi_test_1", f"{sink}/reports", checkpoint_path=ckpt
    )
    assert sorted(map(tuple, out1.collect())) == [(10, 2, 7)]

    # the loop admits + appends doc 0's text as corpus (newest segment)
    gram_index.append_gram_index(_docs(spark, [(0, SHARED)]), idx)

    # batch 2 (resume: only the NEW file): doc -1 outranks doc 0, so
    # the same text now steals from doc 0's copy (positions 0/1), not
    # doc 10's retired-rank firsts
    _docs(spark, [(-1, SHARED)]).write.mode("append").parquet(src)
    incoming2 = (
        spark.readStream.schema("doc_id long, text string")
        .format("parquet")
        .load(src)
    )
    out2 = jobs.streaming_delta_impact(
        incoming2, idx, "sdi_test_2", f"{sink}/reports", checkpoint_path=ckpt
    )
    got = sorted(map(tuple, out2.collect()))
    # doc 0 holds the corpus-first now; SHARED has 2 grams covering 7
    # tokens — and epoch 1's answer REPLACES epoch 0's in the read-back
    assert got == [(0, 2, 7)]


def test_streaming_delta_impact_int32_ids(spark, tmp_path):
    """An int32-id corpus still reports correctly — and its ids come
    back as BIGINT, because the report's ids round-trip the 21-bit
    packing (unlike the gate, which carries the incoming dtype
    through); matches the batch forms' CAST(... AS BIGINT) oracles."""
    from wvfoia_sync_spark.streaming import jobs

    idx = str(tmp_path / "idx")
    docs32 = spark.createDataFrame(
        [(10, A)], "doc_id int, text string"
    )
    gram_index.write_gram_index(docs32, idx, span=6, with_first=True)
    src = str(tmp_path / "arrivals")
    spark.createDataFrame([(0, SHARED)], "doc_id int, text string").write.parquet(src)
    incoming = (
        spark.readStream.schema("doc_id int, text string")
        .format("parquet")
        .load(src)
    )
    out = jobs.streaming_delta_impact(
        incoming, idx, "sdi_int32", f"{tmp_path}/sink/reports"
    )
    assert sorted(map(tuple, out.collect())) == [(10, 2, 7)]
    assert out.schema["doc_id"].dataType.simpleString() == "bigint"


def test_streaming_delta_impact_empty_epochs_never_resurrect(
    spark, tmp_path
):
    """r13 (ADVICE r12, plus the deeper bug behind it): the latest
    epoch is resolved from the sink's DIRECTORY names, not row values —
    a zero-row epoch has no rows for max(epoch) to see, so both empty
    shapes used to silently resurrect the previous run's report:

    - a FIRED batch whose report is empty (nothing stolen) writes a
      zero-row epoch dir that must still shadow older reports;
    - an availableNow restart with NO new files never invokes
      foreachBatch at all, and must publish a sentinel empty epoch
      (one above the dir max) instead of returning the stale answer.
    """
    from wvfoia_sync_spark.streaming import jobs

    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(
        _docs(spark, [(10, A)]), idx, span=6, with_first=True
    )
    src = str(tmp_path / "arrivals")
    sink = str(tmp_path / "sink" / "reports")
    ckpt = str(tmp_path / "ckpt")

    def run(tag):
        incoming = (
            spark.readStream.schema("doc_id long, text string")
            .format("parquet")
            .load(src)
        )
        return jobs.streaming_delta_impact(
            incoming, idx, f"sdi_empty_{tag}", sink, checkpoint_path=ckpt
        )

    # run 1: doc 0 outranks corpus doc 10 -> non-empty report
    _docs(spark, [(0, SHARED)]).write.parquet(src)
    assert sorted(map(tuple, run(1).collect())) == [(10, 2, 7)]

    # run 2: new file whose delta steals NOTHING (doc 99 is outranked)
    # -> fired batch, EMPTY report — must NOT resurrect run 1's answer
    _docs(spark, [(99, SHARED)]).write.mode("append").parquet(src)
    assert run(2).collect() == []

    # run 3: nothing new at all -> foreachBatch never fires; the
    # sentinel epoch must shadow every older report
    import os

    assert run(3).collect() == []
    dirs = sorted(os.listdir(sink))
    assert "batch=2" in dirs  # the sentinel epoch landed, dir-max + 1

    # runs 4-5: two MORE no-data runs stack sentinels at dir-max + 1
    # (ids 3, 4) — ids AHEAD of Spark's checkpointed batchId, which
    # never advanced. Then run 6 delivers real data: its real epoch
    # lands at batchId 2 (< the stale sentinels), and the stale
    # "steals nothing" sentinels must NOT shadow its report — the
    # fired run deletes them (they answered older runs' questions).
    assert run(4).collect() == []
    assert run(5).collect() == []
    assert "batch=4" in sorted(os.listdir(sink))
    _docs(spark, [(-1, SHARED)]).write.mode("append").parquet(src)
    got = sorted(map(tuple, run(6).collect()))
    assert got == [(10, 2, 7)]  # doc -1 outranks corpus doc 10 again
    dirs = sorted(os.listdir(sink))
    assert "batch=3" not in dirs and "batch=4" not in dirs  # swept
    # and a FINAL no-data run re-sentinels above the real max, so the
    # freshest answer is again "this run steals nothing"
    assert run(7).collect() == []


def test_packed_id_magnitude_guard(spark, tmp_path):
    """r13 (ADVICE r12 / VERDICT r12 what's-wrong #3): the packed
    (id, position) BIGINT has 42 bits of id headroom above the 21-bit
    position — a doc_id with |id| >= 2^42 used to OVERFLOW silently on
    id * 2^21, corrupting per-gram minima exactly the way an unguarded
    position would have. Both sides of the delta-report family now
    raise loudly: the stored-index probe (gram_index._packed, both the
    delta and the corpus operand) and the full-pass report's inline
    guard. 2^42 - 1 stays valid (the bound is exact)."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(
        _docs(spark, [(1, A)]), idx, span=6, with_first=True
    )
    huge = _docs(spark, [(1 << 42, SHARED)])
    with pytest.raises(Exception, match=r"2\^42"):
        gram_index.stolen_first_occurrences(spark, idx, huge).collect()
    # negative overflow is guarded symmetrically (abs)
    neg_huge = _docs(spark, [(-(1 << 42), SHARED)])
    with pytest.raises(Exception, match=r"2\^42"):
        gram_index.stolen_first_occurrences(spark, idx, neg_huge).collect()
    # the largest VALID magnitude packs fine (and, being the largest
    # negative id, outranks the corpus and steals SHARED's two firsts)
    edge = _docs(spark, [(-(1 << 42) + 1, SHARED)])
    assert (
        gram_index.stolen_first_occurrences(spark, idx, edge).count() == 2
    )

    # the corpus operand is guarded too: an index holding a huge id
    # raises when its rows reach the packed MIN
    idx_huge = str(tmp_path / "idx_huge")
    gram_index.write_gram_index(
        spark.createDataFrame([(1 << 42, A)], "doc_id long, text string"),
        idx_huge,
        span=6,
        with_first=True,
    )
    with pytest.raises(Exception, match=r"2\^42"):
        gram_index.stolen_first_occurrences(
            spark, idx_huge, _docs(spark, [(0, SHARED)])
        ).collect()


def test_full_pass_report_id_magnitude_guard(spark, tmp_path):
    """The full-pass exact_substring_delta_report enforces the same
    |doc_id| < 2^42 contract inline (its packing is open-coded for the
    one-aggregate shape, so it carries its own copy of the guard)."""
    from wvfoia_sync_spark.queries.corpus_text import (
        exact_substring_delta_report,
    )

    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(7, A), (1 << 42, B)], "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")
    with pytest.raises(Exception, match=r"2\^42"):
        exact_substring_delta_report(spark, sf).collect()


def test_packed_negative_id_round_trip(spark, tmp_path):
    """Negative ids are PART of the packing contract, not an accident
    (the delta property checks' probes rely on them): packing stays
    monotone for i >= 0, and the arithmetic shiftright/pmod unpack is
    floor-consistent, so a stolen NEGATIVE corpus first comes back as
    exactly its (id, position) — pinned here end-to-end by making a
    negative-id corpus doc the victim."""
    idx = str(tmp_path / "idx")
    # corpus doc -3 holds SHARED at position 6; doc 2 holds unrelated B
    gram_index.write_gram_index(
        _docs(spark, [(-3, A), (2, B)]), idx, span=6, with_first=True
    )
    # delta doc -4 outranks corpus doc -3 -> steals SHARED's two firsts;
    # the report must unpack the NEGATIVE packed minima exactly
    delta = _docs(spark, [(-4, SHARED)])
    got = sorted(
        map(
            tuple,
            gram_index.stolen_first_occurrences(spark, idx, delta).collect(),
        )
    )
    assert got == [(-3, 6), (-3, 7)]
    # and a delta that does NOT outrank (-2 > -3) steals nothing
    later = _docs(spark, [(-2, SHARED)])
    assert (
        gram_index.stolen_first_occurrences(spark, idx, later).count() == 0
    )


def test_compact_backfill_upgrades_membership_index(spark, tmp_path):
    """r13 (VERDICT r12 missing #3 / task 7): with_first upgrade via
    compaction. A membership-only index — including one carrying
    appended segments — compacted with ``backfill_first_from=corpus``
    must afterwards serve stolen_first_occurrences IDENTICALLY to a
    from-scratch with_first=True build on the same corpus (the exact
    delta-equality property the probe pins), without the 100 TB
    rebuild."""
    corpus = [(1, A), (2, B)]
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, corpus), idx, span=6)
    # exercise the segment lifecycle before the upgrade: doc 2
    # re-arrives with SHARED appended (newest-wins must hold through
    # the backfill), so the CURRENT corpus is what gets passed
    b2 = B + " " + SHARED
    gram_index.append_gram_index(_docs(spark, [(2, b2)]), idx)
    current = [(1, A), (2, b2)]

    with pytest.raises(ValueError, match="with_first=True"):
        gram_index.stolen_first_occurrences(spark, idx, _docs(spark, [(0, SHARED)]))

    gram_index.compact_gram_index(
        spark, idx, backfill_first_from=_docs(spark, current)
    )

    fresh = str(tmp_path / "fresh")
    gram_index.write_gram_index(
        _docs(spark, current), fresh, span=6, with_first=True
    )
    for delta_rows, expect_steals in (
        ([(0, SHARED)], True),  # outranks -> steals SHARED's firsts
        ([(5, SHARED)], False),  # outranked -> steals nothing
        ([(0, A)], True),  # outranks on every doc-1 gram
    ):
        delta = _docs(spark, delta_rows)
        got = sorted(
            map(
                tuple,
                gram_index.stolen_first_occurrences(
                    spark, idx, delta
                ).collect(),
            )
        )
        want = sorted(
            map(
                tuple,
                gram_index.stolen_first_occurrences(
                    spark, fresh, delta
                ).collect(),
            )
        )
        assert got == want
        assert bool(got) is expect_steals
    # upgrade is idempotent from here: already-with_first -> the
    # backfill arm is a no-op (no join, no drift check) and the index
    # keeps serving the same answers
    gram_index.compact_gram_index(
        spark, idx, backfill_first_from=_docs(spark, [(9, "w1 w2")])
    )
    assert (
        gram_index.stolen_first_occurrences(
            spark, idx, _docs(spark, [(0, SHARED)])
        ).count()
        == 2
    )


def test_compact_backfill_raises_on_corpus_drift(spark, tmp_path):
    """Both drift directions fail LOUDLY inside the compaction write:
    a corpus missing live-indexed text (stale corpus) and a corpus
    with grams the index lacks (newer text) each raise instead of
    publishing minima that disagree with the stored membership; the
    source tree survives the failed upgrade intact."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A), (2, B)]), idx, span=6)

    # stale corpus: doc 1's text lost SHARED -> its stored grams have
    # no derived position
    with pytest.raises(Exception, match="absent from the supplied corpus"):
        gram_index.compact_gram_index(
            spark,
            idx,
            backfill_first_from=_docs(
                spark, [(1, "a1 a2 a3 a4 a5 a6 a7"), (2, B)]
            ),
        )
    # newer corpus: doc 2 grew grams the index never saw
    with pytest.raises(Exception, match="newer than the indexed text"):
        gram_index.compact_gram_index(
            spark,
            idx,
            backfill_first_from=_docs(spark, [(1, A), (2, B + " " + SHARED)]),
        )
    # failed upgrades left the membership index serving (compact_swap
    # publishes only a fully-written temp dir)
    assert gram_index.load_gram_index(spark, idx).count() > 0
    # and docs NOT live in the index are simply ignored (semi-join),
    # so a superset corpus with matching live text upgrades cleanly
    gram_index.compact_gram_index(
        spark,
        idx,
        backfill_first_from=_docs(spark, [(1, A), (2, B), (99, SHARED)]),
    )
    got = sorted(
        map(
            tuple,
            gram_index.stolen_first_occurrences(
                spark, idx, _docs(spark, [(0, SHARED)])
            ).collect(),
        )
    )
    assert got == [(1, 6), (1, 7)]


def test_compact_backfill_after_plain_compaction_upgrades_in_place(
    spark, tmp_path
):
    """A plain in-place compaction first (generation 1, membership
    only) does not stop a later backfill compaction of the same live
    rows from upgrading the index: the upgrade lands in place, bumps
    the generation again, and serves first occurrences."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(_docs(spark, [(1, A), (2, B)]), idx, span=6)
    gram_index.compact_gram_index(spark, idx)
    man = segments.read_manifest(idx, gram_index.MANIFEST)
    assert man["gen"] == 1 and man["with_first"] is False
    with pytest.raises(ValueError, match="with_first=True"):
        gram_index.stolen_first_occurrences(
            spark, idx, _docs(spark, [(0, SHARED)])
        )
    gram_index.compact_gram_index(
        spark, idx, backfill_first_from=_docs(spark, [(1, A), (2, B)])
    )
    man = segments.read_manifest(idx, gram_index.MANIFEST)
    assert man["gen"] == 2 and man["with_first"] is True
    got = sorted(
        map(
            tuple,
            gram_index.stolen_first_occurrences(
                spark, idx, _docs(spark, [(0, SHARED)])
            ).collect(),
        )
    )
    assert got == [(1, 6), (1, 7)]


def test_packed_null_id_raises_loudly(spark, tmp_path):
    """r13 review: NULL operands must RAISE, not pack to NULL — the
    >=-shaped guards pass NULL through under three-valued logic and
    min() then silently IGNORES the NULL-packed row, the exact
    silent-minima corruption the guard family exists to prevent. Both
    the stored-index probe (_packed) and the full-pass report's inline
    copy refuse a NULL doc id."""
    idx = str(tmp_path / "idx")
    gram_index.write_gram_index(
        _docs(spark, [(1, A)]), idx, span=6, with_first=True
    )
    null_delta = spark.createDataFrame(
        [(None, SHARED)], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="NULL doc id"):
        gram_index.stolen_first_occurrences(spark, idx, null_delta).collect()

    from wvfoia_sync_spark.queries.corpus_text import (
        exact_substring_delta_report,
    )

    sf = str(tmp_path / "sf")
    spark.createDataFrame(
        [(None, A), (7, B)], "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")
    with pytest.raises(Exception, match="NULL doc_id"):
        exact_substring_delta_report(spark, sf).collect()
