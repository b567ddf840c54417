"""Incremental FTS index (operators/fts_index.py): segment appends +
live-docs resolution must be indistinguishable from a full rebuild, for
new docs, updated docs, and after compaction."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from wvfoia_sync_spark.operators import fts, fts_index


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _index_rows(spark, d):
    return {
        (r["token"], r["id"])
        for r in fts_index.load_fts_index(spark, d).collect()
    }


def _rebuilt_rows(spark, docs):
    return {
        (r["token"], r["id"])
        for r in fts.build_inverted_index(docs, "doc_id", ["text"]).collect()
    }


def test_upsert_new_and_updated_docs_equals_rebuild(spark, tmp_path):
    base = _docs(spark, [(1, "spark engine"), (2, "query plan"), (3, "old words")])
    d = str(tmp_path / "ftsidx")
    fts_index.build_fts_index(base, d)
    assert _index_rows(spark, d) == _rebuilt_rows(spark, base)

    # delta: one NEW doc + one UPDATED doc (3's text fully replaced)
    delta = _docs(spark, [(4, "new document"), (3, "fresh words")])
    seg = fts_index.upsert_fts_index(delta, d)
    assert seg == 1

    final = _docs(
        spark,
        [(1, "spark engine"), (2, "query plan"), (3, "fresh words"), (4, "new document")],
    )
    assert _index_rows(spark, d) == _rebuilt_rows(spark, final)
    # the updated doc's stale postings are dead, not returned
    assert ("old", 3) not in _index_rows(spark, d)

    # the query path over the incremental index sees current state only
    hit = fts.search_index(final, fts_index.load_fts_index(spark, d), "doc_id", "fresh")
    assert [r["doc_id"] for r in hit.collect()] == [3]
    miss = fts.search_index(final, fts_index.load_fts_index(spark, d), "doc_id", "old")
    assert miss.count() == 0


def test_dead_fraction_and_compaction(spark, tmp_path):
    base = _docs(spark, [(1, "alpha beta"), (2, "gamma delta")])
    d = str(tmp_path / "ftsidx")
    fts_index.build_fts_index(base, d)
    assert fts_index.dead_fraction(spark, d) == 0.0

    # rewrite doc 1 twice -> two dead segments' worth of its postings
    fts_index.upsert_fts_index(_docs(spark, [(1, "epsilon zeta")]), d)
    fts_index.upsert_fts_index(_docs(spark, [(1, "eta theta")]), d)
    assert fts_index.dead_fraction(spark, d) > 0.3

    before = _index_rows(spark, d)
    fts_index.compact_fts_index(spark, d)
    assert fts_index.dead_fraction(spark, d) == 0.0
    assert _index_rows(spark, d) == before  # semantics unchanged
    # manifest reset: a post-compaction upsert keeps working
    fts_index.upsert_fts_index(_docs(spark, [(5, "iota kappa")]), d)
    assert ("iota", 5) in _index_rows(spark, d)


def test_upsert_cost_is_delta_scoped(spark, tmp_path):
    """The corpus segment's files must not be rewritten by an upsert —
    O(|delta|) maintenance shows up as untouched seg=0 partitions."""
    base = _docs(spark, [(i, f"word{i} common") for i in range(20)])
    d = str(tmp_path / "ftsidx")
    fts_index.build_fts_index(base, d)
    postings_dir = os.path.join(d, "postings")
    before = {
        p: os.path.getmtime(os.path.join(dp, p))
        for dp, _, fs in os.walk(postings_dir)
        for p in fs
        if p.endswith(".parquet")
    }
    fts_index.upsert_fts_index(_docs(spark, [(100, "fresh addition")]), d)
    after = {
        p: os.path.getmtime(os.path.join(dp, p))
        for dp, _, fs in os.walk(postings_dir)
        for p in fs
        if p.endswith(".parquet")
    }
    # every pre-existing file survives untouched; only new files appear
    for name, mtime in before.items():
        assert after.get(name) == mtime
    assert len(after) > len(before)


def test_streaming_maintenance_matches_rebuild(spark, tmp_path):
    """File-source doc stream -> foreachBatch segment upserts: after the
    backlog drains (including an UPDATE arriving as a later file), the
    index equals a batch rebuild of the final corpus state — the
    reference's trigger-maintained FTS, as Structured Streaming."""
    src_dir = str(tmp_path / "incoming")
    os.makedirs(src_dir)
    d = str(tmp_path / "ftsidx")
    ckpt = str(tmp_path / "ckpt")

    base = _docs(spark, [(1, "spark engine"), (2, "query plan")])
    fts_index.build_fts_index(base, d)

    # backlog: one new doc, then an update of doc 2 (later file = later seg)
    _docs(spark, [(3, "third entry")]).write.mode("overwrite").parquet(
        os.path.join(src_dir, "b1")
    )
    _docs(spark, [(2, "revised plan")]).write.mode("overwrite").parquet(
        os.path.join(src_dir, "b2")
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)  # forces separate segments
        .parquet(src_dir + "/*")
    )
    fts_index.stream_maintain_fts_index(stream, d, ckpt)

    final = _docs(
        spark,
        [(1, "spark engine"), (2, "revised plan"), (3, "third entry")],
    )
    assert _index_rows(spark, d) == _rebuilt_rows(spark, final)
    assert ("query", 2) not in _index_rows(spark, d)  # update superseded
